"""Sharded keyed store: incremental MERGE that rewrites only changed
key-shards, with shard-pruned point lookups.

The plain grants store (grants_store.py) rewrites the WHOLE table per
upsert — correct, but at 100 TB a micro-batch touching 0.01% of users
cannot pay a full rewrite. Here the key space is hash-sharded
(``pmod(xxhash64(user_id), n_shards)``) and each upsert:

  1. computes which shards the incoming rows touch (tiny distinct agg);
  2. rewrites ONLY those shards (anti-join old shard data + union new);
  3. commits a manifest mapping shard -> owning version, then swaps the
     ``_LATEST`` pointer (readers never see a half-written version).

The manifest also carries the written rows' Spark schema
(``StructType.jsonValue()``), which every read passes to
``spark.read.schema(...)``: reads never infer, so building one launches
no Spark job however many versions are live. A manifest without a
schema raises; there is no inference fallback.

This is exactly the shape of Delta/Iceberg MERGE (log = manifest, file
group = shard): write amplification proportional to data touched, not
table size. Reference parity: the per-key dict update of
/root/reference/services/user_feature.py:32-44, made durable and
incremental. Point lookups (app.py:63-79) hash the key to one shard on
the driver and read only that key's rows of that one directory with
Arrow — no Spark job: the poor man's primary-key index.

Compaction: after many incremental upserts the manifest references many
versions (each a directory). When the live-version count exceeds
``compact_after``, the upsert folds everything into one new version —
Delta's OPTIMIZE. Unreferenced versions are deleted after commit.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

N_SHARDS = 16
SHARD_COL = "__shard"


def _latest_path(path: str) -> str:
    return os.path.join(path, "_LATEST")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, f"manifest_v{version}.json")


def _data_dir(path: str, version: int) -> str:
    return os.path.join(path, "data", f"v{version}")


def current_version(path: str) -> int | None:
    try:
        with open(_latest_path(path)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _shards(doc: dict) -> dict[int, int]:
    return {int(k): int(v) for k, v in doc["shards"].items()}


def _read_manifest(path: str) -> dict[int, int] | None:
    doc = _read_manifest_doc(path)
    return None if doc is None else _shards(doc)


def _read_manifest_doc(path: str, version: int | None = None) -> dict | None:
    """A manifest document (shards, schema, txn stamps): ``version``'s,
    by default the current one's."""
    version = current_version(path) if version is None else version
    if version is None:
        return None
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def read_txn(path: str, app_id: str) -> int | None:
    """Last transaction version committed for ``app_id``, or None.

    The Delta ``txnAppId``/``txnVersion`` idempotence surface: a writer
    that stamps ``upsert(..., txn=(app_id, version))`` can detect a
    replayed write (same or older version) and skip re-applying it —
    the exactly-once guard for at-least-once callers (foreachBatch)."""
    doc = _read_manifest_doc(path)
    if doc is None:
        return None
    v = doc.get("txn", {}).get(app_id)
    return None if v is None else int(v)


def shard_of(key_col: str, n_shards: int = N_SHARDS) -> F.Column:
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")


# --- driver-side XXH64, bit-identical to Spark's xxhash64 ---
# (XXH64 is public domain; Spark's default seed is 42.) Lets a point
# lookup compute its shard without launching a Spark job.
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl64(acc, 31) * _P1) & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` with little-endian lanes, as a signed long:
    Spark's ``XXH64.hashUnsafeBytes`` (its ``hashLong`` is the same
    function over the long's 8 bytes)."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = _round(v[j], lane)
            i += 32
        acc = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12) + _rotl64(v[3], 18)
        ) & _M64
        for lane in v:
            acc ^= _round(0, lane)
            acc = (acc * _P1 + _P4) & _M64
    else:
        acc = (seed + _P5) & _M64
    acc = (acc + n) & _M64
    while i + 8 <= n:
        acc ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        acc = (_rotl64(acc, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        acc = (_rotl64(acc, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        acc ^= (data[i] * _P5) & _M64
        acc = (_rotl64(acc, 11) * _P1) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Spark-compatible xxhash64 of one BIGINT (signed result).
    Verified bit-identical to ``F.xxhash64(col)`` for LongType in
    tests/test_sharded_store.py."""
    return _xxh64((value & _M64).to_bytes(8, "little"), seed)


def xxhash64_utf8(value: str, seed: int = 42) -> int:
    """Spark-compatible xxhash64 of one STRING (its UTF-8 bytes).
    Verified bit-identical to ``F.xxhash64(col)`` for StringType in
    tests/test_sharded_store.py."""
    return _xxh64(value.encode("utf-8"), seed)


def read_store(
    spark: SparkSession,
    path: str,
    shards: set[int] | None = None,
    at_version: int | None = None,
) -> DataFrame | None:
    """Snapshot read; ``shards`` restricts the read to those shard
    directories (partition pruning on the ``__shard`` column).

    ``at_version`` time-travels to an earlier committed version (Delta's
    ``VERSION AS OF``): each manifest is an immutable shard->version map,
    so any retained manifest reconstructs its exact snapshot. Retention
    is ``upsert(retain_versions=...)``; reading a GC'd version raises.

    Reads use the manifest's schema (no inference, so no Spark job); a
    manifest without one raises.
    """
    if at_version is not None:
        try:
            doc = _read_manifest_doc(path, at_version)
        except FileNotFoundError:
            raise ValueError(
                f"version {at_version} is not retained (GC'd or never written)"
            )
    else:
        doc = _read_manifest_doc(path)
    if doc is None:
        return None
    if "schema" not in doc:
        raise ValueError(f"{path}: manifest carries no schema")
    by_version: dict[int, list[int]] = {}
    for shard, version in _shards(doc).items():
        if shards is None or shard in shards:
            by_version.setdefault(version, []).append(shard)
    if not by_version:
        return None
    reader = spark.read.schema(StructType.fromJson(doc["schema"]))
    parts = [
        reader.parquet(_data_dir(path, version)).filter(F.col(SHARD_COL).isin(owned))
        for version, owned in sorted(by_version.items())
    ]
    return functools.reduce(DataFrame.unionByName, parts)


def snapshot(spark: SparkSession, path: str) -> DataFrame | None:
    """Current store contents without the internal ``__shard`` column."""
    df = read_store(spark, path)
    return None if df is None else df.drop(SHARD_COL)


def _commit(
    path: str,
    prev: dict,
    version: int,
    shards: dict[int, int],
    written: DataFrame,
    retain_versions: int,
    txn: tuple[str, int] | None = None,
) -> None:
    """Commit ``version`` over ``prev``, the manifest it replaces: write
    its manifest (shard -> owning version, the schema a read of
    ``written``'s partitioned write sees, ``prev``'s txn stamps plus
    ``txn``), swap ``_LATEST`` to it, then GC what retention drops."""
    schema = written.drop(SHARD_COL).schema.add(SHARD_COL, IntegerType())
    txn_map = {k: int(v) for k, v in prev.get("txn", {}).items()}
    if txn is not None:
        txn_map[txn[0]] = int(txn[1])
    doc = {
        "shards": {str(k): v for k, v in shards.items()},
        "schema": schema.jsonValue(),
        "txn": txn_map,
    }
    os.makedirs(path, exist_ok=True)
    with open(_manifest_path(path, version), "w") as f:
        json.dump(doc, f)
    tmp = _latest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _latest_path(path))

    # GC: keep the data referenced by the last ``retain_versions``
    # manifests (the time-travel window); everything older goes.
    oldest_kept = max(0, version - retain_versions + 1)
    still_live: set[int] = set()
    for v in range(oldest_kept, version + 1):
        try:
            still_live |= set(_shards(_read_manifest_doc(path, v)).values())
        except FileNotFoundError:
            pass
    for old_v in (set(_shards(prev).values()) | {version}) - still_live:
        shutil.rmtree(_data_dir(path, old_v), ignore_errors=True)
    for old_v in range(oldest_kept):
        if old_v not in still_live:
            try:
                os.remove(_manifest_path(path, old_v))
            except FileNotFoundError:
                pass


def upsert(
    new: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    shard_key: str,
    n_shards: int = N_SHARDS,
    compact_after: int = 8,
    touched: set[int] | None = None,
    retain_versions: int = 1,
    txn: tuple[str, int] | None = None,
) -> None:
    """MERGE ``new`` into the store: matching ``key_cols`` rows replaced,
    others carried forward; only shards containing incoming rows are
    rewritten (plus a full fold when compaction triggers).

    ``new`` may already carry the ``__shard`` column (and ``touched`` the
    matching shard set) — callers that need the shard set themselves
    (e.g. to restrict a pre-merge read) compute it once and pass both.

    ``retain_versions`` keeps the last N committed manifests (and every
    data version they reference) readable via
    ``read_store(at_version=...)`` — Delta's retention window; 1 keeps
    only the current snapshot.

    ``txn=(app_id, version)`` stamps an application transaction version
    into the SAME manifest commit (Delta's ``txnAppId``/``txnVersion``):
    the stamp and the data become visible atomically, so an
    at-least-once caller (foreachBatch replaying a micro-batch after a
    crash landed the store write but not the checkpoint commit) can
    consult ``read_txn`` and skip the re-apply. Stamps from other apps
    are carried forward untouched.
    """
    spark = new.sparkSession
    doc = _read_manifest_doc(path) or {"shards": {}}
    manifest = _shards(doc)
    # Version off _LATEST, not manifest truthiness: a delete_keys that
    # emptied every shard leaves a committed EMPTY manifest, and the next
    # upsert must continue the version chain, not restart at v0.
    version = current_version(path)
    next_version = (version + 1) if version is not None else 0

    if SHARD_COL not in new.columns:
        new = new.withColumn(SHARD_COL, shard_of(shard_key, n_shards))
    if touched is None:
        touched = {
            r[0] for r in new.select(SHARD_COL).distinct().collect()
        }  # tiny: <= n_shards ints

    compacting = len(set(manifest.values())) + 1 > compact_after
    shards_to_write = set(manifest) | touched if compacting else touched
    if not shards_to_write:  # empty batch, nothing to fold
        return

    old = read_store(spark, path, shards=shards_to_write)
    merged = (
        new
        if old is None
        else old.join(new, list(key_cols), "left_anti").unionByName(new)
    )
    target = _data_dir(path, next_version)
    # Align the write's task partitioning with the directory
    # partitioning (optimization guide §6, small files): without this,
    # every task holding rows of k shards opens k files, so a
    # 16-task micro-batch writing 16 shards lands up to 256 near-empty
    # parquet files PER VERSION — paid again by every snapshot /
    # pre-merge read (listing + per-file open). Repartitioning by the
    # shard column first bounds the file count by the shard count
    # (plus hash-collision doubling), and the shuffled bytes are
    # exactly the rows being rewritten — which the store's design
    # already bounds to the touched shards.
    merged = merged.repartition(F.col(SHARD_COL))
    merged.write.mode("overwrite").partitionBy(SHARD_COL).parquet(target)

    new_manifest = dict(manifest)
    for s in shards_to_write:
        new_manifest[s] = next_version
    _commit(path, doc, next_version, new_manifest, merged, retain_versions, txn)


def _shard_of_key(key_value, n_shards: int) -> int:
    """The shard ``shard_of`` put ``key_value`` in: ``xxhash64`` hashes
    by type, so a Python str hashes as a Spark string and an integer as
    a Spark bigint. Other keys raise ``TypeError``."""
    if isinstance(key_value, str):
        return xxhash64_utf8(key_value) % n_shards
    if not isinstance(key_value, bool):
        try:
            return xxhash64_long(operator.index(key_value)) % n_shards
        except TypeError:
            pass
    raise TypeError(
        f"point_lookup supports bigint and string shard keys; got {key_value!r}"
    )


def _open_shard(shard_dir: str, shard_key: str, key_value) -> ds.Dataset:
    """The shard directory as a dataset, once its stored key type is
    the one ``key_value`` was hashed as. A directory emptied by a
    concurrent GC has no such column and raises ``KeyError``."""
    dataset = ds.dataset(shard_dir, format="parquet")
    key_type = dataset.schema.field(shard_key).type
    if key_type != (pa.string() if isinstance(key_value, str) else pa.int64()):
        raise TypeError(
            f"point_lookup supports bigint and string shard keys; "
            f"got {key_value!r} for a {key_type} key"
        )
    return dataset


def _lookup_at(
    path: str, version: int, shard_key: str, key_value, n_shards: int
) -> list[dict]:
    manifest = _shards(_read_manifest_doc(path, version))
    if not manifest:
        return []
    shard = _shard_of_key(key_value, n_shards)
    # A shard never written, or emptied by delete_keys, holds no rows;
    # another shard's footer still checks the key type.
    read = shard if shard in manifest else min(manifest)
    shard_dir = os.path.join(_data_dir(path, manifest[read]), f"{SHARD_COL}={read}")
    dataset = _open_shard(shard_dir, shard_key, key_value)
    if read != shard:
        return []
    return dataset.to_table(filter=pc.field(shard_key) == key_value).to_pylist()


def point_lookup(
    path: str,
    shard_key: str,
    key_value,
    n_shards: int = N_SHARDS,
) -> list[dict]:
    """Rows for one key (column -> value dicts, without ``__shard``),
    read driver-side from one shard directory: no Spark job.

    Every call reads ``_LATEST`` and its manifest, so it sees the newest
    committed version. The key hashes to its shard with the SAME hash
    ``upsert``'s ``shard_of`` applied (bigint or UTF-8 string XXH64),
    and Arrow reads only that key's rows of the shard. A commit landing
    during the read may GC the version being read (a missing file, or a
    directory already emptied); ``_LATEST`` then differs from the one
    the read started on, and the lookup starts over once on the new
    version.
    """
    for _ in range(2):
        version = current_version(path)
        if version is None:
            return []
        try:
            rows = _lookup_at(path, version, shard_key, key_value, n_shards)
        except (FileNotFoundError, KeyError):
            if current_version(path) == version:
                raise
            continue
        if current_version(path) == version:
            return rows
    raise RuntimeError(f"{path}: a commit landed during both lookup attempts")


def delete_keys(
    keys: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    shard_key: str,
    n_shards: int = N_SHARDS,
    retain_versions: int = 1,
) -> int:
    """MERGE-DELETE (Delta ``DELETE WHERE`` analog): drop every stored
    row matching ``keys`` on ``key_cols``. Only shards containing a key
    are rewritten — the right-to-be-forgotten shape: a deletion batch
    touching k users costs k shard rewrites, not a full-table rewrite.
    Commits a new manifest version like ``upsert`` (so the deletion is
    itself time-travelable within the retention window — and retention
    is the compliance knob: ``retain_versions=1`` makes the purge
    immediate and the GC below removes the old data files).

    Returns the number of shards rewritten.
    """
    spark = keys.sparkSession
    doc = _read_manifest_doc(path) or {"shards": {}}
    manifest = _shards(doc)
    if not manifest:
        return 0
    version = current_version(path)
    next_version = version + 1

    if SHARD_COL not in keys.columns:
        keys = keys.withColumn(SHARD_COL, shard_of(shard_key, n_shards))
    keys = keys.select(*key_cols, SHARD_COL).distinct()
    touched = {r[0] for r in keys.select(SHARD_COL).distinct().collect()}
    # Only shards the store actually holds can be rewritten — keys hashing
    # to never-written shards would otherwise make read_store return None
    # below (and a no-op deletion should cost zero rewrites).
    touched &= set(manifest)
    if not touched:
        return 0

    old = read_store(spark, path, shards=touched)
    kept = old.join(keys.drop(SHARD_COL), list(key_cols), "left_anti")
    target = _data_dir(path, next_version)
    kept.write.mode("overwrite").partitionBy(SHARD_COL).parquet(target)

    new_manifest = dict(manifest)
    for s in touched:
        # A shard whose every row was deleted writes no partition
        # directory; referencing next_version for it would point lookups
        # at a missing directory. Drop it from the manifest instead —
        # the shard now holds zero rows.
        if os.path.isdir(os.path.join(target, f"{SHARD_COL}={s}")):
            new_manifest[s] = next_version
        else:
            new_manifest.pop(s, None)
    _commit(path, doc, next_version, new_manifest, kept, retain_versions)
    return len(touched)

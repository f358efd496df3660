"""Adversarial cross-engine micro-fixtures.

The driver's correctness gate runs on the seed-42 synthetic tables,
whose shape can hide edge cases (the r7 finds: Sen's-slope even-case
median, 1-ulp decimal->double corr divergence — both invisible at
sf0.01). This suite crafts a small events table that CONCENTRATES the
hazards — same-timestamp ties, single-event users, bursts on window
boundaries, conversion-before-signup, midnight-edge timestamps — and
pins Spark == DuckDB-oracle equality on it for the events-only entries
most exposed to ordering/boundary semantics.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pandas as pd
import pytest

from feature_store_2_spark.queries import CATALOG, _load_all

_load_all()
_BY = {q.name: q for q in CATALOG}

# Every batch entry whose ORACLE reads only the events table runs
# against the crafted fixture — auto-derived so new entries enroll
# themselves. (Streaming entries stage their own sources; entries
# whose Spark side needs other tables or a pre-built store are
# excluded below with the reason.)
import re as _re

_OTHER_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
)

EXCLUDED = {
    # point lookup / version diff / forget: need the sharded grants
    # store built for the target dir first (their own pytest covers
    # store semantics end-to-end)
    "fs_point_lookup",
    "fs_grants_version_diff",
    "fs_grants_forget_users",
    # single-word activity bitmaps guard loudly on corpora spanning
    # > 64 days BY DESIGN (both engines raise); the crafted fixture
    # spans a year for the ISO-week-boundary rows, so these run on the
    # bounded-span fixture below instead
    "agg_activity_bitmap",
    "stream_activity_bitmap",
}


def _events_only_entries():
    out = []
    for q in CATALOG:
        if not q.oracle or q.name.startswith("stream_"):
            continue
        if q.name in EXCLUDED:
            continue
        o = q.oracle.lower()
        if "events" not in o:
            continue
        if any(_re.search(rf"\b{t}\b", o) for t in _OTHER_TABLES):
            continue
        out.append(q.name)
    return out


ENTRIES = _events_only_entries()


def _ts(day, h=0, m=0, s=0, us=0):
    return dt.datetime(2024, 1, day, h, m, s, us)


# event_ids whose value must be written as a TRUE (non-null) NaN —
# pandas float64 columns collapse NaN and None, so crafted_dir patches
# the parquet value column from the raw row list via pyarrow.
_NAN_EVENT_IDS: set[int] = set()


def _crafted_events() -> pd.DataFrame:
    rows = []

    def add(ts, user, etype, value=1.0):
        rows.append((len(rows), ts, user, etype, value, '{"k": 1}'))

    # user 1: a single event ever (short history / all-censored)
    add(_ts(1, 10), 1, "signup")
    # user 2: signup and purchase at the SAME instant (0s conversion,
    # tie-order hazard)
    add(_ts(2, 9), 2, "signup")
    add(_ts(2, 9), 2, "purchase", 2.5)
    # user 3: a 12-event burst inside 10 seconds, several sharing
    # timestamps (throttle / concurrency / coalesce boundary ties)
    for i in range(12):
        add(_ts(3, 12, 0, i // 2), 3, "click")
    # user 4: the error->click->purchase motif twice, back-to-back
    # (overlapping sequence-match candidates)
    for k in range(2):
        add(_ts(4, 8 + k, 0, 0), 4, "error")
        add(_ts(4, 8 + k, 0, 30), 4, "click")
        add(_ts(4, 8 + k, 1, 0), 4, "purchase", 1.5)
    # user 5: purchase BEFORE signup (out-of-order funnel)
    add(_ts(5, 7), 5, "purchase", 0.01)
    add(_ts(5, 8), 5, "signup")
    # user 6: events exactly at midnight and 1us before (date-trunc edge)
    add(_ts(6, 0, 0, 0, 0), 6, "view")
    add(_ts(7, 0, 0, 0, 0) - dt.timedelta(microseconds=1), 6, "view")
    # user 7: signup then purchase after exactly 7 days (window edge);
    # interleaved error at the same second as the purchase
    add(_ts(8, 6), 7, "signup")
    add(_ts(15, 6), 7, "purchase", 327.53)
    add(_ts(15, 6), 7, "error")
    # four distinct days for user 8 so daily aggregates have an even
    # pairwise-slope count (C(4,2)=6 — the Sen's-slope regression shape,
    # here mixed into a multi-user table)
    for di, cnt in enumerate([3, 7, 1, 9]):
        for k in range(cnt):
            add(_ts(20 + di, 14, 0, k), 8, "view")
    # user 9: active in three consecutive ISO weeks spanning the
    # 2024→2025 year boundary. The week starting Monday 2024-12-30 is
    # ISO week 1 of 2025 while its Monday's calendar YEAR is 2024, so
    # any (year, weekofyear) week key collides it with the week of
    # 2024-01-01 (also (2024, 1)) — the r7 advisor finding in
    # ts_weekly_audience_overlap. Keying weeks by their Monday date
    # keeps these three weeks distinct and consecutive.
    add(dt.datetime(2024, 12, 26, 10), 9, "view")  # week of 2024-12-23
    add(dt.datetime(2024, 12, 31, 11), 9, "view")  # week of 2024-12-30
    add(dt.datetime(2025, 1, 2, 9), 9, "click")    # same ISO week 1 '25
    add(dt.datetime(2025, 1, 8, 9), 9, "view")     # week of 2025-01-06
    # user 10: a purchaser whose EVERY purchase carries a NULL value —
    # monetary = sum(value) aggregates to NULL, the DESC-NULLS-LAST
    # ordering hazard (rfm m_score: plain negation would flip NULL to
    # first; the round-8 review finding, fixed via nulls='last' in the
    # two-phase prefix). Also exercises NULL-value paths in every
    # value-summing entry on this fixture.
    add(_ts(9, 10), 10, "signup")
    add(_ts(9, 11), 10, "purchase", None)
    add(_ts(10, 11), 10, "purchase", None)
    # anonymous events: user_id NULL (the un-identified-session shape
    # every real event stream contains). NULL is one GROUP in both
    # engines' GROUP BY but matches nothing in either engine's joins —
    # entries mixing the two idioms diverge unless they pick one.
    add(_ts(11, 9), None, "view")
    add(_ts(11, 9, 30), None, "click", 3.25)
    # --- round-9 class: hazards INSIDE a syntactically-valid props
    # envelope (the A2 quarantine only rejects malformed JSON — a valid
    # envelope whose FIELD is null/absent/mistyped sails through to
    # every props-extracting entry). user 11's events all carry k
    # variants a real producer emits:
    rows.append((len(rows), _ts(12, 9, 0), 11, "view", 1.0,
                 '{"k": null}'))          # explicit JSON null
    rows.append((len(rows), _ts(12, 9, 1), 11, "view", 1.0,
                 '{}'))                   # absent field
    rows.append((len(rows), _ts(12, 9, 2), 11, "view", 1.0,
                 '{"k": "12"}'))          # string-typed number
    rows.append((len(rows), _ts(12, 9, 3), 11, "view", 1.0,
                 '{"k": "zip-987"}'))     # non-numeric string
    rows.append((len(rows), _ts(12, 9, 4), 11, "view", 1.0,
                 '{"k": 1.5}'))           # float where int expected
    rows.append((len(rows), _ts(12, 9, 5), 11, "view", 1.0,
                 '{"k": {"v": 1}}'))      # nested object under the key
    rows.append((len(rows), _ts(12, 9, 6), 11, "view", 1.0,
                 '{"K": 7}'))             # wrong-case key (paths are
                                          # case-sensitive in both)
    rows.append((len(rows), _ts(12, 9, 7), 11, "view", 1.0,
                 None))                   # NULL envelope entirely
    rows.append((len(rows), _ts(12, 9, 8), 11, "view", 1.0,
                 '{"k": 1e30}'))          # DOUBLE beyond int64 range —
                                          # Spark try_variant_get NULLs
                                          # the overflow; the oracle's
                                          # DOUBLE branch must TRY_CAST
                                          # the trunc() too or DuckDB
                                          # throws (r10 ADVICE find)
    rows.append((len(rows), _ts(12, 9, 9), 11, "view", 1.0,
                 '{"k": -1e30}'))         # same, negative side
    # --- round-9 class: event_id REPLAY (at-least-once delivery).
    # The same uuid delivered twice for user 12 with CONFLICTING
    # payloads (value drifted between retries) — A5/A7 dedup must
    # resolve the survivor partition/order-independently (min, never
    # first) on BOTH the batch and streaming paths; and the same
    # event_id reused by a DIFFERENT user (id-scope check: dedup keys
    # are (user, uuid), not uuid alone).
    replay_id = len(rows)
    rows.append((replay_id, _ts(13, 10, 0), 12, "purchase", 9.75, '{"k": 3}'))
    rows.append((replay_id, _ts(13, 10, 5), 12, "purchase", 2.25, '{"k": 4}'))
    rows.append((replay_id, _ts(13, 11, 0), 13, "purchase", 5.00, '{"k": 3}'))
    # --- round-9 class: NON-FINITE doubles (a divide-by-zero upstream,
    # a corrupted float — every long-lived pipeline eventually sees
    # them). Contract: a non-finite measurement is MISSING for exact
    # (decimal) accumulation — Spark's double->decimal cast nulls
    # NaN/Inf even under ANSI, and the oracles gate with isfinite()
    # because DuckDB's cast (even TRY_CAST) ERRORS instead. Dated
    # April so the bounded bitmap subset (ts < March) is unaffected.
    # NOTE: the NaN row is stored as None here and patched to a true
    # NaN at write time (pandas float64 can't hold a non-null NaN
    # distinct from None) — see _NAN_EVENT_IDS in crafted_dir.
    _NAN_EVENT_IDS.add(len(rows))
    rows.append((len(rows), dt.datetime(2024, 4, 2, 10), 14, "purchase",
                 None, '{"k": 1}'))
    rows.append((len(rows), dt.datetime(2024, 4, 2, 11), 14, "click",
                 float("inf"), '{"k": 1}'))
    rows.append((len(rows), dt.datetime(2024, 4, 2, 12), 14, "purchase",
                 float("-inf"), '{"k": 1}'))
    # --- round-10 class: hostile FINITE magnitudes (a unit-conversion
    # bug upstream, a corrupted mantissa — finite, so isfinite() gates
    # pass them). Contract: a value not representable in the entry's
    # declared decimal precision is MISSING, like NaN/Inf — Spark
    # try_cast and DuckDB TRY_CAST both NULL the overflow; a plain
    # cast under Spark 4's ANSI default kills the whole job on ONE
    # such row (the r10 job-killer class these rows pin shut).
    # 9.9e11 fits DECIMAL(18,6) (max ~1e12) and must be KEPT exactly;
    # 5e12 exceeds (18,6) but fits (28,2) — per-site thresholds;
    # +-1e30 exceeds every accumulator. Dated April (bitmap subset
    # unaffected), user 15 so no earlier user's aggregates move.
    rows.append((len(rows), dt.datetime(2024, 4, 3, 9), 15, "purchase",
                 9.9e11, '{"k": 2}'))
    rows.append((len(rows), dt.datetime(2024, 4, 3, 10), 15, "click",
                 5.0e12, '{"k": 2}'))
    rows.append((len(rows), dt.datetime(2024, 4, 3, 11), 15, "purchase",
                 1e30, '{"k": 2}'))
    rows.append((len(rows), dt.datetime(2024, 4, 3, 12), 15, "click",
                 -1e30, '{"k": 2}'))
    rows.append((len(rows), dt.datetime(2024, 4, 3, 13), 15, "purchase",
                 4.25, '{"k": 2}'))
    rows.append((len(rows), dt.datetime(2024, 4, 3, 14), 15, "click",
                 5.0e17, '{"k": 2}'))  # beyond the grants pipeline's
                                       # DECIMAL(18,2) SUM envelope
                                       # (|v| < 1e16) but inside
                                       # (28,2) — pins the per-site
                                       # threshold boundary
    # --- round-11 class (11a): NON-CENT-ALIGNED amounts and cents
    # magnitudes past 2^53 (the r10 verdict's latent streaming-SUM
    # find). Contract: EVERY double->decimal intake rounds the value's
    # shortest round-trip decimal rendering HALF_UP at the declared
    # scale — Spark's cast (Double.toString + setScale HALF_UP) and
    # DuckDB TRY_CAST measured to agree, including on the
    # binary-vs-decimal traps (0.615's double is 0.61499..., yet both
    # give 0.62); the streaming pipeline converts with the same Spark
    # cast per value before accumulating.
    # Round-THEN-sum per value also makes the streaming accumulator an
    # exact int64 add: micro-batch-slicing independent, and still exact
    # at 98000000000000.07 (stored double's shortest repr is ...06 —
    # both engines quantize THAT) where float cents (9.8e15 > 2^53)
    # lose ulps. Magnitudes whose double x100 is inexact (e.g.
    # 91000000000000.25) stay OUT of this fixture: DuckDB's cast
    # multiplies in double there and genuinely diverges from Spark
    # (the limit test_cents_intake_agrees_spark_and_duckdb records).
    # 0.0045 rounds to 0.00 at scale 2 — SUM unchanged, COUNT moves.
    # Dated April (bitmap subset unaffected), fresh user 16.
    rows.append((len(rows), dt.datetime(2024, 4, 4, 9), 16, "purchase",
                 0.004, '{"k": 4}'))
    rows.append((len(rows), dt.datetime(2024, 4, 4, 10), 16, "purchase",
                 0.005, '{"k": 4}'))
    rows.append((len(rows), dt.datetime(2024, 4, 4, 11), 16, "purchase",
                 0.615, '{"k": 4}'))
    rows.append((len(rows), dt.datetime(2024, 4, 4, 12), 16, "purchase",
                 2.675, '{"k": 4}'))
    rows.append((len(rows), dt.datetime(2024, 4, 4, 13), 16, "purchase",
                 98000000000000.07, '{"k": 4}'))
    rows.append((len(rows), dt.datetime(2024, 4, 4, 14), 16, "purchase",
                 0.0045, '{"k": 4}'))
    rows.append((len(rows), dt.datetime(2024, 4, 4, 15), 16, "click",
                 1.005, '{"k": 4}'))
    # --- round-11 class (11b): HOSTILE GROUPING/JOIN KEYS on the
    # event_type dispatch surface (A4). Contract: string keys are BYTE
    # sequences — neither engine normalizes, case-folds, or strips
    # invisibles, so NFC "café" and NFD "café" are DIFFERENT groups,
    # zero-width/bidi variants of "click" are DIFFERENT from "click"
    # (and thus IGNORED by the grants dispatch, whose config names are
    # plain ASCII), and case-collision keys stay distinct; ordering on
    # these keys is UTF-8 binary == code-point order in Spark, DuckDB,
    # and the harness's pandas sort alike. (The reference's user_id is
    # the other key surface, but it is BIGINT in this schema — unicode
    # user-id hazards cannot arise by construction.) Dated April
    # (bitmap subset unaffected), fresh user 17.
    _t11b = dt.datetime(2024, 4, 5, 9)
    for k, etype in enumerate([
        "café_click",          # NFC: precomposed U+00E9
        "café_click",         # NFD: e + combining acute
        "cli​ck",              # zero-width space inside
        "‮click",              # bidi RLO prefix
        "click‍",              # zero-width joiner suffix
        "Purchase",                 # case-collision with the real key
        "PURCHASE",
        "purchase ",                # trailing space
    ]):
        rows.append((len(rows), _t11b + dt.timedelta(minutes=k), 17,
                     etype, 1.0 + k, '{"k": 5}'))
    # the genuine key, same user, so per-type aggregates must separate
    # it from all eight impostors above
    rows.append((len(rows), _t11b + dt.timedelta(hours=1), 17,
                 "purchase", 2.0, '{"k": 5}'))
    df = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    # Keep user_id BIGINT in parquet: a bare None promotes the pandas
    # column to float64, which writes a DOUBLE column and breaks every
    # reader's schema (the anonymous rows must change VALUES, never
    # the schema).
    df["user_id"] = df["user_id"].astype("Int64")
    return df


@pytest.fixture(scope="module")
def crafted_dir(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("adversarial")
    df = _crafted_events()
    t = pa.Table.from_pandas(df, preserve_index=False)
    # Re-build the value column so the _NAN_EVENT_IDS rows carry a true
    # NaN (non-null) while the genuine missing values stay null.
    vals = [
        float("nan") if eid in _NAN_EVENT_IDS
        else (None if pd.isna(v) else float(v))
        for eid, v in zip(df["event_id"], df["value"])
    ]
    t = t.set_column(
        t.schema.get_field_index("value"), "value",
        pa.array(vals, pa.float64()),
    )
    pq.write_table(t, d / "events.parquet")
    return str(d)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        # Spark DATE arrives as object(datetime.date) while DuckDB's
        # fetchdf gives datetime64 — same values, different carriers;
        # render both as ISO strings before comparing.
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
        if df[c].dtype == object:
            # Canonicalize NULL carriers BEFORE the str cast (Spark
            # toPandas gives None, DuckDB fetchdf float nan or pandas
            # NA) so a genuine string value 'nan'/'<NA>' returned by
            # one engine can never alias a NULL from the other
            # (ADVICE r8: the old post-hoc replace masked exactly that
            # divergence).
            df[c] = df[c].where(df[c].notna(), None).astype(str)
            df[c] = df[c].str.replace(
                r"^(\d{4}-\d{2}-\d{2}) 00:00:00$", r"\1", regex=True
            )
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


@pytest.mark.parametrize("name", ENTRIES)
def test_crafted_edge_fixture_matches_oracle(spark, crafted_dir, name):
    q = _BY[name]
    got = _canon(q.fn(spark, crafted_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{crafted_dir}/events.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# ---------------------------------------------------------------------------
# Documents-side adversarial fixture
# ---------------------------------------------------------------------------

DOC_EXCLUDED = {
    # needs the events table too on the Spark side (joint fixture)
    # — none currently; placeholder for future entries
}


def _docs_only_entries():
    others = (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings",
    )
    out = []
    for q in CATALOG:
        if not q.oracle or q.name.startswith("stream_"):
            continue
        if q.name in DOC_EXCLUDED:
            continue
        o = q.oracle.lower()
        if "documents" not in o:
            continue
        if any(_re.search(rf"\b{t}\b", o) for t in others):
            continue
        out.append(q.name)
    return out


def _crafted_documents() -> pd.DataFrame:
    base = (
        "the fast key order sort table scan merge part window small hash "
        "scan join order batch stream spark window dup data row value "
        "filter line agg column vector query group slow big customer"
    )
    near = base.replace("vector", "tensor")
    prefix = " ".join(base.split(" ")[:15])
    rows = [
        (0, "", "en", "src0"),                      # empty text
        (1, "hello", "en", "src0"),                 # single token
        (2, "a  b", "en", "src1"),                  # double space -> empty token
        (3, " leading and trailing ", "en", "src1"),  # edge spaces
        (4, base, "en", "src2"),                    # exact dup of 5
        (5, base, "en", "src2"),
        (6, near, "en", "src3"),                    # near-dup (1 token)
        (7, prefix, "en", "src3"),                  # containment prefix
        (8, "café nämé 東京 café", "de", "src4"),  # unicode
        (9, " ".join(["spam"] * 30), "en", "src4"),  # degenerate repetition
        (10, "x" * 500, "en", "src5"),               # one huge token
        (11, "reach a.b@corp.example.com or 999-555-1234 now", "en", "src5"),
        (12, "the quick brown fox jumps over the lazy dog", "en", "src6"),
        (13, "pack my box with five dozen liquor jugs", "fr", "src6"),
        (14, "sphinx of black quartz judge my vow", "fr", "src7"),
        (15, "how vexingly quick daft zebras jump", "de", "src7"),
        # NULL text (a failed fetch / dropped payload — every real
        # corpus has them) and NULL lang/source metadata: NULL is one
        # GROUP in both engines' GROUP BY but matches nothing in
        # either engine's joins, and string functions propagate it.
        (16, None, "en", "src8"),
        (17, "null metadata doc body words here", None, None),
        # --- round-9 class: unicode normalization / astral-plane text.
        # 18/19: the SAME visual string in NFC vs NFD (é precomposed vs
        # e+U+0301) — neither engine normalizes, so they must agree the
        # docs are DIFFERENT (codepoint-level dedup), and every length/
        # substring/tokenize path must count the combining mark the
        # same way.
        (18, "caf\u00e9 latte caf\u00e9 crema", "fr", "src9"),
        (19, "cafe\u0301 latte cafe\u0301 crema", "fr", "src9"),
        # 20: astral-plane codepoints (surrogate pairs in UTF-16
        # engines, 4-byte UTF-8): emoji + ZWJ family + gothic letter —
        # length() must count codepoints identically, not UTF-16 units.
        (20, "launch \U0001F680 family \U0001F468\u200d\U0001F469\u200d\U0001F467 note \U0001D11E ok", "en", "src9"),
        # 21: case-mapping edge chars: ß (upper -> SS, 1->2 chars),
        # İ (lower -> i + combining dot in full unicode), ﬁ ligature.
        (21, "straße İstanbul ﬁnance straße", "de", "src10"),
        # 22: zero-width space + NBSP between words — split(' ') must
        # NOT split on either in either engine (they are not U+0020).
        (22, "alpha\u200bbeta gamma\u00a0nbsp delta epsilon", "en", "src10"),
        # --- round-10: Greek Final_Sigma conditional lowercase (the
        # r10 ADVICE find \u2014 Spark lower('\u0392\u039f\u03a3') = \u03b2\u03bf\u03c2 with final \u03c2
        # U+03C2, DuckDB = \u03b2\u03bf\u03c3 with \u03c3 U+03C3). Covers: word-final \u03a3
        # (mapped), word-initial/medial \u03a3 (unmapped), \u03a3 before a digit
        # (still final \u2014 a digit is not cased), \u03a3 followed by an
        # apostrophe then a cased letter (NOT final: the ignorable is
        # transparent, \u0392\u039f\u03a3'\u0391 lowers to \u03b2\u03bf\u03c3'\u03b1), and apostrophe-then-end
        # (final: \u039f'\u03a3 -> \u03bf'\u03c2). _spark_lower_sql must reproduce all.
        (23, "\u03a4\u0395\u039b\u039f\u03a3 \u03a3\u039f\u03a6\u0399\u0391 \u0391\u03a3\u03a3\u039f\u03a3 \u039f\u0394\u03a5\u03a3\u03a3\u0395\u03a5\u03a3 \u0391\u03a32 \u0392\u039f\u03a3'\u0391 \u039f'\u03a3 \u03c4\u03b5\u03bb\u03bf\u03c2", "el", "src11"),
        # --- round-11 class (11b): hostile GROUPING KEYS + degenerate
        # token shape. 24/25: the SAME visual source in NFC vs NFD \u2014
        # `source` is a grouping/join key (domain profiles, the
        # cross-source dup matrix, train splits): neither engine
        # normalizes keys, so these must be DIFFERENT groups
        # everywhere, exactly like the doc-text rule of 18/19.
        (24, "nfc source body words alpha beta", "en", "caf\u00e9.example"),
        (25, "nfd source body words alpha beta", "en",
         "cafe\u0301.example"),
        # 26: zero-width space inside the source key (a copy-paste
        # artifact in a crawl manifest) \u2014 distinct from 'src0' + a
        # case-collision key for good measure.
        (26, "zws source body words gamma delta", "en", "src\u200b0"),
        (27, "case source body words gamma delta", "en", "SRC0"),
        # 28: a 1M-char SINGLE-TOKEN document (no spaces at all): the
        # whitespace tokenizer must yield exactly one 1M-char token,
        # the 3-gram shingler must yield ZERO shingles (len(w)-2 <= 0
        # guard on both engines), length/entropy/fingerprint paths
        # must survive a megabyte-scale string value, and
        # length-banded dedup (fuzzy levenshtein) must prune it to
        # zero candidates (no similar-length partner) rather than
        # attempt a 1e12-cell DP.
        (28, "q" * 1_000_000, "en", "src12"),
        # 29: MULTI-LINE text with duplicate lines (the
        # doc_line_dedup_clean transform's real work — every other doc
        # in this corpus is single-line and passes through unchanged):
        # an exact dup, a dup separated by a blank line, repeated
        # blank lines, a trailing newline (split keeps the empty last
        # element in BOTH engines), and a near-dup line differing only
        # by a zero-width space (must NOT collapse).
        (29, "alpha beta\ngamma\n\nalpha beta\n\ngamma\nal​pha beta\n",
         "en", "src12"),
    ]
    return pd.DataFrame(
        [
            (i, t, lg, sc, len(t) if t is not None else None)
            for i, t, lg, sc in rows
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).astype({"n_chars": "Int64"})


@pytest.fixture(scope="module")
def crafted_docs_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_docs")
    _crafted_documents().to_parquet(d / "documents.parquet")
    return str(d)


# Entries whose DUCKDB oracle is super-linear in document length and
# therefore intractable on the 1M-char doc 28 (mm_audio_window_energy's
# per-byte substring unroll over the 2M-char hex string costs 15-25 min
# — the r11 verify-budget blocker; the Spark side finishes in seconds).
# Marked slow (deselected by default, see pytest.ini); each keeps
# tractable-size oracle coverage via
# test_crafted_docs_capped_matches_oracle below, and the 1M-char doc
# still flows through every OTHER entry's oracle comparison unchanged.
_SLOW_ORACLE = {"mm_audio_window_energy"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLE else n
        for n in _docs_only_entries()
    ],
)
def test_crafted_docs_fixture_matches_oracle(spark, crafted_docs_dir, name):
    q = _BY[name]
    got = _canon(q.fn(spark, crafted_docs_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{crafted_docs_dir}/documents.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.fixture(scope="module")
def crafted_docs_capped_dir(spark, tmp_path_factory):
    """The crafted corpus with the 1M-char single-token doc capped to
    64k chars: every property doc 28 pins (single whitespace token,
    zero 3-gram shingles, length-band pruning, huge-value survival)
    holds identically at 64k, while the quadratic oracle unrolls in
    seconds instead of tens of minutes."""
    d = tmp_path_factory.mktemp("adversarial_docs_capped")
    docs = _crafted_documents()
    capped = docs["text"].where(
        docs["text"].str.len().fillna(0) <= 65_536,
        docs["text"].str.slice(0, 65_536),
    )
    docs = docs.assign(
        text=capped,
        n_chars=capped.str.len().astype("Int64"),
    )
    docs.to_parquet(d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("name", sorted(_SLOW_ORACLE))
def test_crafted_docs_capped_matches_oracle(
    spark, crafted_docs_capped_dir, name
):
    """Tractable-size oracle coverage for the slow-marked entries: the
    identical comparison on the capped corpus runs in the default
    budget, so no entry loses its crafted-fixture oracle gate."""
    q = _BY[name]
    got = _canon(q.fn(spark, crafted_docs_capped_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{crafted_docs_capped_dir}/documents.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# ---------------------------------------------------------------------------
# Embeddings-side adversarial fixture
# ---------------------------------------------------------------------------


def _embeddings_only_entries():
    others = (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents",
    )
    out = []
    for q in CATALOG:
        if not q.oracle or q.name.startswith("stream_"):
            continue
        o = q.oracle.lower()
        if "embeddings" not in o:
            continue
        if any(_re.search(rf"\b{t}\b", o) for t in others):
            continue
        out.append(q.name)
    return out


def _crafted_embeddings() -> pd.DataFrame:
    """40 vectors, dim 64, all components exactly representable in
    float32 (small integers and halves) so any Spark/DuckDB diff is
    semantics, never accumulation noise. Hazards: the all-zero vector
    (norm 0 — cosine's divide-by-zero), an exact duplicate pair, an
    antipodal pair (cosine -1), a same-direction scaled copy, and a
    tiny-magnitude vector."""
    dim = 64

    def vec(f):
        return [float(f(j)) for j in range(dim)]

    rows = [
        (0, vec(lambda j: 0), 0),                       # zero norm
        (1, vec(lambda j: 1 if j == 0 else 0), 1),      # unit e0
        (2, vec(lambda j: (j % 7) - 3), 2),             # dup of 3
        (3, vec(lambda j: (j % 7) - 3), 3),
        (4, vec(lambda j: -((j % 7) - 3)), 4),          # antipodal to 3
        # scale x4, not x8: norm^2 = 4096 stays inside the 2^13
        # vector_exact envelope (r10) while keeping cosine = 1 to row 3
        (5, vec(lambda j: ((j % 7) - 3) * 4), 5),
        (6, vec(lambda j: 0.5 if j % 3 == 0 else 0), 6),  # halves
    ]
    for i in range(7, 40):
        rows.append((i, vec(lambda j, i=i: ((i * 31 + j * 17) % 13) - 6), i % 10))
    # NULL embedding (a failed encoder call) and NULL label (unlabeled
    # corpus member): NULL is a group in GROUP BY, vanishes from joins,
    # and must not crash quantize/dot kernels.
    rows.append((40, None, 3))
    rows.append((41, vec(lambda j: 1 if j < 2 else 0), None))
    # --- round-10 class: non-finite / hostile-magnitude COMPONENTS (a
    # corrupted mantissa, an overflowed normalization — the vector is
    # non-NULL, so the r8 NULL gate passes it straight into
    # floor(x * 2^24), an ANSI job-killer on NaN and a silent BIGINT
    # hazard at big magnitudes). Contract: a vector with any
    # NULL/NaN/Inf component or squared norm outside the 2^13 envelope
    # (functions/vector.vector_exact) does not exist for vector math.
    rows.append((42, [float("nan") if j == 5 else 1.0 for j in range(dim)], 2))
    rows.append((43, [float("inf") if j == 0 else 0.5 for j in range(dim)], 4))
    rows.append((44, [float("-inf") if j == 63 else 0.0 for j in range(dim)], 5))
    rows.append((45, [None if j == 31 else 2.0 for j in range(dim)], 6))
    rows.append((46, [1e30 if j == 7 else 1.0 for j in range(dim)], 7))
    # all-|50| vector: finite everywhere but norm^2 = 160000 > 8192 —
    # the envelope violation with no non-finite component
    rows.append((47, vec(lambda j: 50 if j % 2 == 0 else -50), 8))
    # near-envelope KEEPER: all-|10| gives norm^2 = 6400 < 8192 —
    # must survive the gate and carry exact quantized math
    rows.append((48, vec(lambda j: 10 if j % 2 == 0 else -10), 9))
    return pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])


@pytest.fixture(scope="module")
def crafted_emb_dir(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("adversarial_emb")
    pdf = _crafted_embeddings()
    table = pa.table(
        {
            "vec_id": pa.array(pdf["vec_id"], pa.int64()),
            "embedding": pa.array(
                pdf["embedding"], pa.list_(pa.float32())
            ),
            "label": pa.array(pdf["label"], pa.int32()),
        }
    )
    pq.write_table(table, d / "embeddings.parquet")
    return str(d)


@pytest.mark.parametrize("name", _embeddings_only_entries())
def test_crafted_embeddings_fixture_matches_oracle(
    spark, crafted_emb_dir, name
):
    q = _BY[name]
    got = _canon(q.fn(spark, crafted_emb_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{crafted_emb_dir}/embeddings.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# ---------------------------------------------------------------------------
# Relational-side (TPC-H tables) adversarial fixture
# ---------------------------------------------------------------------------

REL_EXCLUDED = {
    # need a pre-built sharded grants store / staging side effects
    "fs_point_lookup", "fs_grants_version_diff", "fs_grants_forget_users",
    # bucketed-layout entry stages catalog tables from the sf dir path;
    # its plan-shape pytest covers it
    "join_bucketed_fact_fact",
}


def _relational_entries():
    covered = set(ENTRIES) | set(_docs_only_entries()) | set(
        _embeddings_only_entries()
    )
    out = []
    for q in CATALOG:
        if not q.oracle or q.name.startswith("stream_"):
            continue
        if q.name in covered or q.name in REL_EXCLUDED or q.name in EXCLUDED:
            continue
        out.append(q.name)
    return out


def _crafted_relational(d):
    """A minimal FK-consistent TPC-H micro-database concentrating
    relational hazards: a region with no nations, a nation with no
    customers, a customer with no orders (and negative/zero balances),
    an order with no lineitems, zero discounts/taxes, and categorical
    values missing entirely from some groups (empty ratio
    denominators)."""
    ts = dt.datetime
    region = pd.DataFrame(
        [(0, "ASIA"), (1, "EUROPE"), (2, "AFRICA")],  # AFRICA: no nations
        columns=["r_regionkey", "r_name"],
    )
    nation = pd.DataFrame(
        [(0, "NATION_0", 0), (1, "NATION_1", 0), (2, "NATION_2", 1)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )  # NATION_2: no customers or suppliers
    customer = pd.DataFrame(
        [
            (1, "Customer#1", 0, 100.5, "BUILDING"),
            (2, "Customer#2", 0, 0.0, "AUTOMOBILE"),    # zero balance
            (3, "Customer#3", 1, -45.25, "BUILDING"),   # negative balance
            (4, "Customer#4", 1, 900.0, "MACHINERY"),   # no orders
        ],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    supplier = pd.DataFrame(
        [(1, "Supplier#1", 0, 10.0), (2, "Supplier#2", 1, -5.5)],
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    part = pd.DataFrame(
        [
            (1, "part one", "Brand#1", "PROMO", 5, 100.0),
            (2, "part two", "Brand#2", "STANDARD", 10, 200.0),
            (3, "part three", "Brand#1", "ECONOMY", 50, 50.0),  # no lineitems
        ],
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    )
    orders = pd.DataFrame(
        [
            (1, 1, "F", 150.0, ts(1996, 1, 2), "1-URGENT"),
            (2, 1, "O", 75.5, ts(1998, 6, 1), "5-LOW"),
            (3, 2, "F", 300.25, ts(1996, 1, 2), "3-MEDIUM"),  # same day
            (4, 3, "P", 10.0, ts(2001, 8, 1), "1-URGENT"),    # max date
            (5, 2, "O", 0.0, ts(1995, 1, 1), "2-HIGH"),       # no lineitems
            # --- round-10 class-8 extension: calendar pathologies on
            # the ORDER-DATE surface (the events-side sweep can't reach
            # the orders-reading date entries — add_months/last_day/
            # weekofyear/date_diff corners must agree here too)
            (6, 1, "F", 20.0, ts(1969, 7, 20), "4-NOT SPECI"),  # pre-epoch
            (7, 2, "O", 30.0, ts(1996, 2, 29), "2-HIGH"),       # leap day
            (8, 3, "P", 40.0, ts(2262, 1, 15), "5-LOW"),        # ns-envelope
            (9, 1, "O", 50.0, ts(1998, 12, 31), "3-MEDIUM"),    # ISO W53
            (10, 2, "F", 60.0, ts(1777, 1, 31), "1-URGENT"),    # deep past;
                                                                # +1 month
                                                                # clamps to
                                                                # Feb 28
        ],
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    )
    lineitem = pd.DataFrame(
        [
            (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "A", "F", ts(1996, 1, 10)),
            (1, 2, 2, 2, 50.0, 50.5, 0.1, 0.08, "R", "F", ts(1996, 2, 1)),
            (2, 1, 2, 1, 2.0, 75.5, 0.05, 0.0, "N", "O", ts(1998, 6, 15)),
            (3, 2, 1, 1, 25.0, 300.25, 0.0, 0.05, "A", "F", ts(1996, 1, 2)),
            (4, 1, 1, 1, 1.0, 10.0, 0.1, 0.1, "N", "O", ts(2001, 11, 4)),
            # ship dates riding the pathological orders (pre-epoch and
            # far-future receipt/commit windows)
            (6, 1, 1, 1, 3.0, 20.0, 0.0, 0.0, "A", "F", ts(1969, 8, 1)),
            (8, 2, 2, 1, 4.0, 40.0, 0.05, 0.0, "N", "O", ts(2262, 2, 1)),
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    )
    for name, df in [
        ("region", region), ("nation", nation), ("customer", customer),
        ("supplier", supplier), ("part", part), ("orders", orders),
        ("lineitem", lineitem),
    ]:
        # micro-second timestamps: pandas defaults to ns, which only the
        # events loader normalizes; Spark rejects TIMESTAMP(NANOS) for
        # the relational tables (load_table's events-only rebuild)
        df.to_parquet(d / f"{name}.parquet", coerce_timestamps="us")


@pytest.fixture(scope="module")
def crafted_rel_dir(spark, tmp_path_factory, crafted_dir, crafted_docs_dir, crafted_emb_dir):
    import shutil

    d = tmp_path_factory.mktemp("adversarial_rel")
    _crafted_relational(d)
    # entries spanning table families get the crafted edge tables too
    shutil.copy(f"{crafted_dir}/events.parquet", d / "events.parquet")
    shutil.copy(
        f"{crafted_docs_dir}/documents.parquet", d / "documents.parquet"
    )
    shutil.copy(
        f"{crafted_emb_dir}/embeddings.parquet", d / "embeddings.parquet"
    )
    return str(d)


# Entries whose SPARK side is super-linear in the fixture's DATE SPAN:
# sql_recursive_month_spine recurses one driver-side micro-plan per
# month between min and max o_orderdate, and the calendar-pathology
# rows (1777 / 2262) make that ~5,820 levels ~ 11 minutes — a verify-
# budget monster for a property (gap-filling over a deep spine) that
# ~385 levels pin identically. Slow-marked here; tractable-size oracle
# coverage via test_crafted_rel_capped_matches_oracle below.
_SLOW_REL_ORACLE = {"sql_recursive_month_spine"}


def _run_rel_oracle_comparison(spark, rel_dir, name):
    q = _BY[name]
    got = _canon(q.fn(spark, rel_dir).toPandas())
    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{rel_dir}/{t}.parquet')"
        )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_REL_ORACLE else n
        for n in _relational_entries()
    ],
)
def test_crafted_relational_fixture_matches_oracle(
    spark, crafted_rel_dir, name
):
    _run_rel_oracle_comparison(spark, crafted_rel_dir, name)


@pytest.fixture(scope="module")
def crafted_rel_capped_dir(spark, tmp_path_factory, crafted_rel_dir):
    """The crafted relational micro-database with the two extreme-date
    orders (1777, 2262) and their lineitems dropped: the order-date
    span becomes 1969-07..2001-08 (~385 monthly recursion levels —
    pre-epoch month starts, a 26-year gap to fill with zero rows, and
    the min/max truncation edges all still present), so the recursive
    spine unrolls in seconds instead of 11 minutes."""
    import shutil

    d = tmp_path_factory.mktemp("adversarial_rel_capped")
    for f in os.listdir(crafted_rel_dir):
        shutil.copy(os.path.join(crafted_rel_dir, f), d / f)
    orders = pd.read_parquet(d / "orders.parquet")
    keep = orders["o_orderdate"].dt.year.between(1900, 2100)
    dropped = set(orders.loc[~keep, "o_orderkey"])
    orders[keep].to_parquet(d / "orders.parquet", coerce_timestamps="us")
    li = pd.read_parquet(d / "lineitem.parquet")
    li[~li["l_orderkey"].isin(dropped)].to_parquet(
        d / "lineitem.parquet", coerce_timestamps="us"
    )
    return str(d)


@pytest.mark.parametrize("name", sorted(_SLOW_REL_ORACLE))
def test_crafted_rel_capped_matches_oracle(
    spark, crafted_rel_capped_dir, name
):
    _run_rel_oracle_comparison(spark, crafted_rel_capped_dir, name)


# ---------------------------------------------------------------------------
# Streaming entries on the crafted events fixture
# ---------------------------------------------------------------------------


def _streaming_events_entries():
    others = (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings",
    )
    out = []
    for q in CATALOG:
        if not q.oracle or not q.name.startswith("stream_"):
            continue
        if q.name in EXCLUDED:
            continue
        o = q.oracle.lower()
        if "events" not in o:
            continue
        if any(_re.search(rf"\b{t}\b", o) for t in others):
            continue
        out.append(q.name)
    return out


@pytest.mark.parametrize("name", _streaming_events_entries())
def test_crafted_streaming_fixture_matches_oracle(spark, crafted_dir, name):
    """The crafted ties/bursts/out-of-order events are exactly the shapes
    watermark eviction and keyed state must get right; each streaming
    entry stages its own micro-batch source from the crafted events
    parquet and must still equal its batch oracle."""
    q = _BY[name]
    got = _canon(q.fn(spark, crafted_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{crafted_dir}/events.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_multibatch_out_of_order_beyond_watermark_drops(spark, crafted_dir):
    """Pins the DOCUMENTED limit of the multibatch convergence claim:
    the grants merge is commutative/associative, but the 35-day dedup
    watermark makes replay ORDER matter once cross-batch disorder
    exceeds it. The crafted corpus spans ~373 days; replaying its four
    time slices newest-first advances the watermark past the early
    slices, whose rows are evicted as late data — fewer grants than the
    in-order replay (which the entry pins via ascending mtimes). This
    is the trade every watermarked at-least-once consumer makes; the
    test exists so the drop is a stated semantic, not a flake."""
    import glob as _glob
    import tempfile as _tempfile

    from feature_store_2_spark.sources.tables import load_table as _lt
    from feature_store_2_spark.streaming import (
        grants_snapshot as _snap,
        run_grants_pipeline_merge as _run,
    )

    root = _tempfile.mkdtemp(prefix="fs2_mb_ooo_")
    ev_dir = os.path.join(root, "events")
    _lt(spark, "events", crafted_dir).repartitionByRange(4, "ts").write.parquet(
        ev_dir
    )
    parts = sorted(_glob.glob(ev_dir + "/part-*[!c]"))
    base = 1_600_000_000
    for i, p in enumerate(parts):  # newest time slice gets OLDEST mtime
        os.utime(p, (base + (len(parts) - i), base + (len(parts) - i)))
    _run(
        spark,
        events_path=ev_dir,
        grants_path=os.path.join(root, "grants"),
        notifications_path=os.path.join(root, "notifications"),
        checkpoint_path=os.path.join(root, "checkpoint"),
        shuffle_partitions=16,
        max_files_per_trigger=1,
    )
    got = _snap(spark, os.path.join(root, "grants")).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{crafted_dir}/events.parquet')"
    )
    full = con.execute(_BY["stream_grants_multibatch"].oracle).fetchdf()
    # Late-slice eviction must have dropped early users: strictly fewer
    # grant rows than the converged in-order result, and the surviving
    # user set is a strict subset (only users whose events ride in the
    # slices processed before the watermark overtook the rest remain).
    assert len(got) < len(full), (len(got), len(full))
    # fillna: the anonymous (NULL) user arrives as float nan, and
    # nan != nan breaks set containment even when both sides carry it.
    assert (
        set(got["user_id"].fillna(-1)) < set(full["user_id"].fillna(-1))
    )


# ---------------------------------------------------------------------------
# Empty-class events fixture (r7 advisor): one label/side entirely absent
# ---------------------------------------------------------------------------

# Entries whose metric divides by a per-class count product — with a
# class empty the denominator is 0 and the engines must AGREE on the
# rendered result (NULL on both; never Spark NaN/Inf vs DuckDB NULL).
EMPTY_CLASS_ENTRIES = [
    "stats_ks_test",
    "eval_auc_exact",
    "stats_welch_ttest",
    # CUPED's theta divides by the pre-period variance: the 'no_click'
    # shape zeroes every x, var(x) = 0, and both engines must agree on
    # NULL (nullif guard), never Spark NaN vs DuckDB NULL.
    "stats_cuped_adjustment",
]


@pytest.fixture(scope="module", params=["no_purchase", "no_click"])
def empty_class_dir(request, tmp_path_factory):
    """Events where one side of every two-class split is missing:
    'no_purchase' empties the purchase class (KS side b, AUC positives);
    'no_click' empties the click class (KS side a)."""
    keep = {
        "no_purchase": ["click", "view", "error"],
        "no_click": ["purchase", "view", "signup"],
    }[request.param]
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                dt.datetime(2024, 3, 1 + i % 20, 9 + i % 12),
                1 + i % 7,
                keep[i % len(keep)],
                0.5 * (i % 9),
                "{}",
            )
        )
    d = tmp_path_factory.mktemp(f"empty_class_{request.param}")
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", EMPTY_CLASS_ENTRIES)
def test_empty_class_fixture_matches_oracle(spark, empty_class_dir, name):
    q = _BY[name]
    got = _canon(q.fn(spark, empty_class_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{empty_class_dir}/events.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# ---------------------------------------------------------------------------
# Bounded-span fixture for the 64-day activity bitmaps
# ---------------------------------------------------------------------------

BITMAP_ENTRIES = ["agg_activity_bitmap", "stream_activity_bitmap"]


@pytest.fixture(scope="module")
def crafted_bounded_dir(tmp_path_factory):
    """The main crafted fixture spans a year (ISO-week-boundary rows),
    which the single-word activity bitmaps refuse BY DESIGN (>64-day
    guard on both engines). Re-run them on the January/early-Feb subset
    so the tie/burst/midnight shapes still exercise the bit packing."""
    ev = _crafted_events()
    sub = ev[ev["ts"] < dt.datetime(2024, 3, 1)].reset_index(drop=True)
    d = tmp_path_factory.mktemp("adversarial_bounded")
    sub.to_parquet(d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", BITMAP_ENTRIES)
def test_bitmap_entries_on_bounded_fixture(spark, crafted_bounded_dir, name):
    q = _BY[name]
    got = _canon(q.fn(spark, crafted_bounded_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{crafted_bounded_dir}/events.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# ---------------------------------------------------------------------------
# Rows-only entries: crafted-fixture determinism pins (r7 verdict ask #8)
# ---------------------------------------------------------------------------
#
# The two remaining oracle-less entries (HLL sketches have no DuckDB
# analog; GK percentiles were promoted to an exact rank-certification
# oracle in r11) are the only catalog members outside the cross-engine
# net. On the crafted fixtures every group's cardinality sits far below
# the sketch sparse-mode thresholds, so the sketches are EXACT there —
# pin run-to-run determinism AND equality with the exact computation on
# the edge-case shapes (ties, bursts, midnight boundaries).


@pytest.mark.parametrize(
    "name", ["sketch_hll_users_per_type", "agg_approx_distinct"]
)
def test_rows_only_hll_entries_crafted_pin(spark, crafted_dir, name):
    q = _BY[name]
    got1 = _canon(q.fn(spark, crafted_dir).toPandas())
    got2 = _canon(q.fn(spark, crafted_dir).toPandas())
    pd.testing.assert_frame_equal(got1, got2)  # determinism
    from feature_store_2_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", crafted_dir)
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in q.fn(spark, crafted_dir).collect()
    }
    # sparse-mode HLL++ is exact at these cardinalities (<= 9 users)
    assert approx == exact, (approx, exact)


def test_rows_only_percentiles_crafted_pin(spark, crafted_rel_dir):
    """r11: sketch_approx_percentiles was promoted to an exact
    rank-certification oracle (so the cross-engine sweep now covers it
    on this fixture automatically); this pin keeps the VALUE-level GK
    checks the old rows-only pin carried — element-of-group + rank
    contract for the raw approx_percentile values, which stay out of
    the (approximation-free) entry output by design — and asserts the
    entry certifies in_bound on the crafted shapes."""
    from pyspark.sql import functions as F

    from feature_store_2_spark.sources.tables import load_table

    q = _BY["sketch_approx_percentiles"]
    got1 = _canon(q.fn(spark, crafted_rel_dir).toPandas())
    got2 = _canon(q.fn(spark, crafted_rel_dir).toPandas())
    pd.testing.assert_frame_equal(got1, got2)  # determinism
    assert got1["in_bound"].astype(bool).all()

    li_df = load_table(spark, "lineitem", crafted_rel_dir)
    gk = li_df.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("approx_median_price"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.9), F.lit(10000)
        ).alias("approx_p90_price"),
    )
    li = li_df.toPandas()
    by_flag = {
        flag: sorted(g["l_extendedprice"].astype(float))
        for flag, g in li.groupby("l_returnflag")
    }
    for r in gk.collect():
        vals = by_flag[r["l_returnflag"]]
        n = len(vals)
        for col, qq in (
            ("approx_median_price", 0.5),
            ("approx_p90_price", 0.9),
        ):
            v = float(r[col])
            assert v in vals, (r["l_returnflag"], col, v)
            # GK rank contract with B=10000 >> n: the element's rank
            # interval must cover q*n within rank discreteness
            r_lt = sum(1 for x in vals if x < v)
            r_le = sum(1 for x in vals if x <= v)
            assert r_lt + 1 <= qq * n + 2, (col, r_lt, n)
            assert r_le >= qq * n - 2, (col, r_le, n)


def test_stream_denial_rate_crafted_pin(spark, crafted_dir):
    """The exact streaming breaker (r10) over the crafted bursts/ties/
    NULL-user/non-finite rows: the append-mode output must hash-match
    its own DuckDB oracle on the crafted fixture (stream entries are
    excluded from the parametrized events-fixture sweep because of
    staging cost — this is the one-off enrollment), run twice for
    determinism."""
    q = _BY["stream_denial_rate"]
    got1 = _canon(q.fn(spark, crafted_dir).toPandas())
    got2 = _canon(q.fn(spark, crafted_dir).toPandas())
    pd.testing.assert_frame_equal(got1, got2)  # determinism
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{crafted_dir}/events.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got1.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(got1, exp, check_dtype=False)


# ---------------------------------------------------------------------------
# Round-10 class: timestamp pathologies (separate fixture — the main
# crafted corpus stays a realistic ~1-year span; these rows stretch the
# calendar surface from 1777 to 2262)
# ---------------------------------------------------------------------------

# Entries excluded from the pathological-timestamp sweep, each with the
# reason (populate as triage discovers by-design guards):
TS_PATH_EXCLUDED = {
    # 64-day single-word bitmap guard raises BY DESIGN on this span
    # (same reason as the main fixture's exclusion)
    "agg_activity_bitmap",
    "stream_activity_bitmap",
} | EXCLUDED


def _pathological_ts_events() -> pd.DataFrame:
    """Events whose timestamps sit on the calendar's trap doors.

    Every row is inside the parquet TIMESTAMP(NANOS) envelope
    (1677-09-21 .. 2262-04-11) with >= 40 days of headroom below the
    upper bound so +30-day/+1-month interval arithmetic in entries
    cannot overflow the ns carrier either engine hands to pandas.
    """
    rows = []

    def add(ts, uid, et, val=1.0, props='{"k": 1}'):
        rows.append((len(rows), ts, uid, et, val, props))

    # pre-epoch: negative epoch exercises every floor-vs-truncate
    # division in epoch//bucket window math; sub-second fractions on a
    # negative epoch are the classic rounding trap
    add(dt.datetime(1969, 12, 31, 23, 59, 59, 123456), 1, "view")
    add(dt.datetime(1969, 7, 20, 2, 56, 0), 1, "click", 3.5)
    add(dt.datetime(1970, 1, 1, 0, 0, 0), 1, "purchase", 10.0)  # epoch 0
    # ISO-week year mismatch at the epoch boundary: Mon 1969-12-29 is
    # ISO 1970-W01 while its calendar year is 1969
    add(dt.datetime(1969, 12, 29, 8), 2, "signup")
    # leap day (+ the 23:59:59.999999 microsecond edge) and the
    # following day — date_trunc/add_months clamping fodder
    add(dt.datetime(2024, 2, 29, 12, 0), 3, "purchase", 5.0)
    add(dt.datetime(2024, 2, 29, 23, 59, 59, 999999), 3, "click", 1.0)
    add(dt.datetime(2024, 3, 1, 0, 0), 3, "view")
    # ISO week 53 of 2020: Dec 31 and Jan 1 share ISO 2020-W53; the
    # following Monday is 2021-W01
    add(dt.datetime(2020, 12, 31, 8), 4, "view")
    add(dt.datetime(2021, 1, 1, 9), 4, "click", 2.0)
    add(dt.datetime(2021, 1, 4, 9), 4, "view")
    # DST transition instants (stored naive-UTC; the tz-conversion
    # surface must agree on civil renderings): US spring-forward gap
    # (02:30 EST does not exist in America/New_York on 2024-03-10),
    # US fall-back repeat, EU spring-forward
    add(dt.datetime(2024, 3, 10, 7, 30), 5, "view")
    add(dt.datetime(2024, 11, 3, 5, 30), 5, "view")
    add(dt.datetime(2024, 3, 31, 1, 30), 5, "click", 4.0)
    # deep past / far future inside the ns envelope (pre-Gregorian-
    # reform proleptic dates stay OUT by design — both engines use the
    # proleptic Gregorian calendar but parquet writers disagree about
    # the hybrid-Julian rebase below 1582)
    add(dt.datetime(1777, 7, 4, 12, 0), 6, "signup")
    add(dt.datetime(2262, 1, 1, 0, 0), 6, "view")
    add(dt.datetime(2262, 2, 28, 23, 0), 6, "purchase", 7.25)
    # same-microsecond ties across users at an hour boundary (window
    # assignment + dedup tie-breaks at the exact bucket edge)
    t = dt.datetime(2024, 6, 1, 10, 0, 0)
    add(t, 7, "view")
    add(t, 8, "view")
    add(t, 7, "click", 0.5)
    df = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    df["user_id"] = df["user_id"].astype("Int64")
    return df


@pytest.fixture(scope="module")
def ts_pathology_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ts_pathology")
    _pathological_ts_events().to_parquet(d / "events.parquet")
    return str(d)


@pytest.mark.parametrize(
    "name", [n for n in ENTRIES if n not in TS_PATH_EXCLUDED]
)
def test_ts_pathology_fixture_matches_oracle(spark, ts_pathology_dir, name):
    q = _BY[name]
    got = _canon(q.fn(spark, ts_pathology_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{ts_pathology_dir}/events.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_stream_denial_rate_ts_pathology_pin(spark, ts_pathology_dir):
    """The exact streaming breaker on the pathological-timestamp
    fixture (stream entries are excluded from the parametrized sweep):
    pre-epoch events exercise the floor-vs-truncate window-assignment
    divergence — DuckDB's integer '//' truncates toward zero while
    Spark's window() floors, so the oracle must bucket via the
    positive-mod identity (r10 find)."""
    q = _BY["stream_denial_rate"]
    got = _canon(q.fn(spark, ts_pathology_dir).toPandas())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{ts_pathology_dir}/events.parquet')"
    )
    exp = _canon(con.execute(q.oracle).fetchdf())
    assert list(got.columns) == list(exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# Streaming entries on the pathological-timestamp fixture. Spark's
# event-time watermark INITIALIZES at epoch 0, so pre-1970 event-time
# data is late BY CONSTRUCTION on the first batch — but how much is
# dropped is operator-specific (all three rules measured, r10):
#   - "row":     row-keyed state (dropDuplicatesWithinWatermark, the
#                grants pipelines, stream-stream join inputs) drops
#                rows with ts <= epoch (strict survivor cut);
#   - "window":  tumbling-window aggregations drop whole WINDOWS with
#                end <= epoch — pre-epoch rows can't reach a later
#                window because epoch-aligned tumbling windows never
#                straddle 0, so a row cut at ts >= epoch is equivalent;
#   - "session": session windows keep a session (INCLUDING its
#                pre-epoch member rows) iff the merged session's end
#                reaches >= epoch — expressed as a filter on the
#                oracle's session_end_us output column.
# Entries not listed are unaffected (their pre-epoch contributions are
# already invisible in the oracle's output shape) and must match the
# unrestricted oracle.
STREAM_TS_PATHOLOGY_RULE = {
    "stream_dedup_events": "row",
    "stream_feature_grants": "row",
    "stream_grants_multibatch": "row",
    "stream_grants_incremental_merge": "row",
    "stream_stream_left_outer": "row",
    "stream_stream_full_outer": "row",
    "stream_topk_trending": "window",
    "stream_throttle_first_per_window": "window",
    "stream_sessionize": "session",
}


@pytest.mark.parametrize("name", _streaming_events_entries())
def test_streaming_ts_pathology_envelope(spark, ts_pathology_dir, name):
    q = _BY[name]
    got = _canon(q.fn(spark, ts_pathology_dir).toPandas())
    con = duckdb.connect()
    rule = STREAM_TS_PATHOLOGY_RULE.get(name)
    if rule == "row":
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{ts_pathology_dir}/events.parquet') "
            "WHERE ts > TIMESTAMP '1970-01-01'"
        )
    elif rule == "window":
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{ts_pathology_dir}/events.parquet') "
            "WHERE ts >= TIMESTAMP '1970-01-01'"
        )
    else:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{ts_pathology_dir}/events.parquet')"
        )
    exp = con.execute(q.oracle).fetchdf()
    if rule == "session":
        exp = exp[exp["session_end_us"] >= 0]
    exp = _canon(exp)
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

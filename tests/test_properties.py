"""Property-based tests (hypothesis): the feature pipeline against an
independent row-at-a-time Python model (the shape of the reference's own
accumulator semantics, /root/reference/models/aggregate.py:41-83 and
models/rules.py:25-75), plus structural invariants of sessionization and
dedup.

These run on ONE shared SparkSession with small generated inputs — each
example is a full plan execution, so max_examples stays low; the point is
adversarial inputs (duplicate uuids, zero denominators, empty users),
not volume.
"""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from feature_store_2_spark.config import (
    AggregateSpec,
    AggregateType,
    EngineConfig,
    FeatureSpec,
    RuleCondition,
    RuleOperation,
    RuleSpec,
)
from feature_store_2_spark.plans.feature_pipeline import (
    feature_grants_wide,
    user_aggregates,
)

CONFIG = EngineConfig(
    aggregates=(
        AggregateSpec("n_errors", "error", AggregateType.COUNT),
        AggregateSpec("distinct_vals", "signup", AggregateType.DISTINCT_COUNT, "value"),
        AggregateSpec("click_sum", "click", AggregateType.SUM, "value"),
        AggregateSpec("purchase_sum", "purchase", AggregateType.SUM, "value"),
    ),
    rules=(
        RuleSpec("few_errors", ("n_errors",), RuleOperation.VALUE,
                 RuleCondition.LESS_THAN, 3),
        RuleSpec("ratio_ok", ("click_sum", "purchase_sum"), RuleOperation.DIVIDE,
                 RuleCondition.LESS_THAN, 1.0),
        RuleSpec("ratio_min2", ("distinct_vals", "n_errors"), RuleOperation.DIVIDE,
                 RuleCondition.GREATER_THAN, 0.5, denom_min=2),
    ),
    features=(FeatureSpec("purchase", ("ratio_ok",)),
              FeatureSpec("combo", ("few_errors", "ratio_min2"))),
)

# (event_id, user_id, event_type, value-in-cents) — small key spaces force
# uuid collisions (dedup path) and per-user multi-type histories.
events_strategy = st.lists(
    st.tuples(
        st.integers(0, 30),
        st.integers(0, 5),
        st.sampled_from(["error", "signup", "click", "purchase", "view"]),
        st.integers(0, 500),
    ),
    min_size=1,
    max_size=60,
)


def model_aggregates(rows):
    """Row-at-a-time reference model: per-user uuid sets / value sets /
    deduped sums, mirroring models/aggregate.py:53-68. Dedup key is
    (user_id, uuid) — the reference keeps uuid sets PER USER, so the
    same uuid reaching two users updates both."""
    users = {}
    seen = set()
    for eid, uid, etype, cents in rows:
        if (uid, eid) in seen:  # exactly-once per (user, uuid)
            continue
        seen.add((uid, eid))
        u = users.setdefault(uid, {"n_errors": 0, "vals": set(), "click": 0, "purch": 0})
        if etype == "error":
            u["n_errors"] += 1
        elif etype == "signup":
            u["vals"].add(cents / 100.0)
        elif etype == "click":
            u["click"] += cents
        elif etype == "purchase":
            u["purch"] += cents
    return users


def model_rules(u):
    few_errors = u["n_errors"] < 3
    purch = u["purch"] / 100.0
    click = u["click"] / 100.0
    ratio_ok = (0.0 if purch == 0 else click / purch) < 1.0
    denom = float(u["n_errors"])
    if denom < 2:
        ratio_min2 = True
    else:
        ratio_min2 = (len(u["vals"]) / denom) > 0.5
    return few_errors, ratio_ok, ratio_min2


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=events_strategy)
def test_pipeline_matches_row_model(spark, rows):
    ts = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [(eid, ts, uid, etype, cents / 100.0, None) for eid, uid, etype, cents in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r["user_id"]: r.asDict()
        for r in feature_grants_wide(df, CONFIG).collect()
    }
    # NB: Spark dedup keeps an arbitrary row per (user, uuid); the model
    # keeps the first. Generated duplicates may differ in payload, so
    # compare values only when every (user, uuid) has one payload.
    payloads = {}
    consistent = True
    for eid, uid, etype, cents in rows:
        if payloads.setdefault((uid, eid), (etype, cents)) != (etype, cents):
            consistent = False
    model = model_aggregates(rows)
    assert set(got) == set(model)
    if not consistent:
        return
    for uid, u in model.items():
        g = got[uid]
        assert g["n_errors"] == u["n_errors"]
        assert g["distinct_vals"] == len(u["vals"])
        assert (g["click_sum"] or 0.0) == u["click"] / 100.0
        assert (g["purchase_sum"] or 0.0) == u["purch"] / 100.0
        few_errors, ratio_ok, ratio_min2 = model_rules(u)
        assert g["purchase_grant"] == ratio_ok
        assert g["combo_grant"] == (few_errors and ratio_min2)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=events_strategy)
def test_user_aggregates_partition_invariant(spark, rows):
    """Result is independent of input partitioning/order (exactness of
    the decimal accumulation + dedup)."""
    ts = dt.datetime(2026, 1, 1)
    data = [(eid, ts, uid, etype, cents / 100.0, None) for eid, uid, etype, cents in rows]
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    df1 = spark.createDataFrame(data, schema).coalesce(1)
    df2 = spark.createDataFrame(list(reversed(data)), schema).repartition(7)
    rows1 = sorted(user_aggregates(df1, CONFIG).collect())
    rows2 = sorted(user_aggregates(df2, CONFIG).collect())
    assert rows1 == rows2


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    gaps=st.lists(st.integers(1, 7200), min_size=1, max_size=40),
    user=st.integers(0, 2),
)
def test_sessionize_invariants(spark, gaps, user):
    """Sessions partition a user's events; consecutive sessions are
    separated by > 30 min; within-session neighbor gaps are <= 30 min."""
    from feature_store_2_spark.queries.relational2 import sessionize_events
    import feature_store_2_spark.queries.relational2 as r2
    import feature_store_2_spark.sources.tables as tables

    t = dt.datetime(2026, 1, 1)
    rows, eid = [], 0
    for g in gaps:
        t = t + dt.timedelta(seconds=g)
        rows.append((eid, t, user, "view", 1.0, None))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = tables.load_table
    tables.load_table = lambda s, name, sf: df  # inject synthetic events
    r2.load_table = tables.load_table
    try:
        out = sessionize_events(spark, "ignored").orderBy("session_id").collect()
    finally:
        tables.load_table = orig
        r2.load_table = orig
    assert sum(r["n_events"] for r in out) == len(rows)
    for prev, cur in zip(out, out[1:]):
        assert cur["session_start_epoch"] - prev["session_end_epoch"] > 1800
    for r in out:  # within a session the span can't exceed 30min * (n-1)
        assert r["session_end_epoch"] - r["session_start_epoch"] <= 1800 * (
            r["n_events"] - 1 if r["n_events"] > 1 else 0
        )


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.text(alphabet="ab c", min_size=0, max_size=30),
                      min_size=1, max_size=20))
def test_exact_dedup_groups_partition_text(spark, texts):
    """Group sizes sum to the row count; identical texts share one group
    with the minimum id as canonical."""
    from feature_store_2_spark.operators.dedup import exact_dedup_groups

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = exact_dedup_groups(df).collect()
    assert sum(r["n_dupes"] for r in out) == len(texts)
    expect_groups = {}
    for i, t in enumerate(texts):
        expect_groups.setdefault(t, []).append(i)
    assert sorted(min(v) for v in expect_groups.values()) == sorted(
        r["canonical_id"] for r in out
    )


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_prefix_jaccard_equals_exact_on_random_docs(spark, docs, threshold):
    """AllPairs prefix filtering is COMPLETE on arbitrary corpora: for
    random small docs (hot shingles, empty docs, exact duplicates,
    sub-shingle-length docs all arise) the prefix-filtered pair set must
    equal the exact quadratic join at every threshold."""
    from feature_store_2_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    exact = {
        (r["doc1"], r["doc2"], round(r["jaccard"], 12))
        for r in ngram_jaccard_pairs(df, threshold).collect()
    }
    prefix = {
        (r["doc1"], r["doc2"], round(r["jaccard"], 12))
        for r in ngram_jaccard_pairs_prefix(df, threshold).collect()
    }
    assert prefix == exact


def test_prefix_jaccard_expansion_verify_equals_exact(spark, monkeypatch):
    """Both verify strategies of ngram_jaccard_pairs_prefix stay
    covered (ADVICE r11): every test/gate corpus is far below the 32 MB
    broadcast gate, so the AllPairs EXPANSION verify — the at-scale
    path — would otherwise never execute in CI. Force the gate off
    (VERIFY_BROADCAST_MAX_DOC_BYTES = 0 makes _verify_fits_broadcast
    False for every estimate) and pin prefix == exact on a corpus with
    exact dups, near-dups, containment prefixes, hot shingles and
    sub-shingle-length docs, at three thresholds."""
    from feature_store_2_spark.operators import dedup

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    near = base.replace("sigma", "sigmoid")
    docs = [
        base,
        base,                                  # exact dup
        near,                                  # near-dup
        " ".join(base.split()[:8]),            # containment prefix
        " ".join(["alpha beta gamma"] * 5),    # hot shingles
        "one two",                             # sub-shingle-length
        "",                                    # empty
        "alpha beta gamma delta unrelated tail words here now",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    monkeypatch.setattr(dedup, "VERIFY_BROADCAST_MAX_DOC_BYTES", 0)
    assert not dedup._verify_fits_broadcast(df)
    for threshold in (0.3, 0.5, 0.8):
        exact = {
            (r["doc1"], r["doc2"], round(r["jaccard"], 12))
            for r in dedup.ngram_jaccard_pairs(df, threshold).collect()
        }
        prefix = {
            (r["doc1"], r["doc2"], round(r["jaccard"], 12))
            for r in dedup.ngram_jaccard_pairs_prefix(df, threshold).collect()
        }
        assert prefix == exact
        assert any(j >= threshold for _, _, j in exact)  # non-vacuous


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    toks=st.lists(st.integers(0, 700), min_size=1, max_size=60),
)
def test_two_pass_prefix_scan_equals_global_cumsum(spark, toks):
    """doc_pack_token_budget's scale form (per-shard cumsum + broadcast
    exclusive prefix of shard totals) must reproduce the naive global
    ordered cumsum bit-for-bit on arbitrary token counts — including
    shard-boundary straddles and zero-token docs. Uses a small shard
    width so multiple shards actually occur at test sizes."""
    from pyspark.sql import Window

    rows = [(i, n) for i, n in enumerate(toks)]
    t = spark.createDataFrame(rows, "doc_id long, n_tokens long").withColumn(
        "shard", F.expr("doc_id div 7")
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_in_shard", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    totals = sorted(
        t.groupBy("shard").agg(F.sum("n_tokens").alias("tot")).collect(),
        key=lambda r: r["shard"],
    )
    prefix, acc = {}, 0
    for r in totals:
        prefix[r["shard"]] = acc
        acc += r["tot"]
    off = F.create_map(*[F.lit(x) for kv in prefix.items() for x in kv])
    got = {
        r["doc_id"]: r["cum_before"]
        for r in c.withColumn(
            "cum_before", F.col("cum_in_shard") + off[F.col("shard")]
        ).collect()
    }
    running, want = 0, {}
    for i, n in enumerate(toks):
        want[i] = running
        running += n
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.text(alphabet="abcd ", min_size=1, max_size=80),
    edits=st.lists(
        st.tuples(st.integers(0, 59), st.sampled_from("xyzq")),
        min_size=0,
        max_size=4,
    ),
)
def test_fuzzy_blocking_complete_for_substitution_edits(spark, base, edits):
    """Pigeonhole guarantee of dedup_fuzzy_levenshtein's candidate
    generation: a pair whose 60-char keys differ by <= 4 SUBSTITUTIONS
    always shares one intact aligned segment, so the operator must emit
    it. Build doc2 from doc1 by substituting <= 4 positions and assert
    the pair surfaces with the right distance."""
    from feature_store_2_spark.queries.llm_text import dedup_fuzzy_levenshtein
    import feature_store_2_spark.sources.tables as tables

    key = (base.lower() + " " * 60)[:60]
    edited = list(key)
    for pos, ch in edits:
        edited[pos] = ch
    edited = "".join(edited)
    n_subs = sum(1 for a, b in zip(key, edited) if a != b)

    docs = spark.createDataFrame(
        [(0, key), (1, edited)], "doc_id long, text string"
    )
    original = tables.load_table
    try:
        tables.load_table = lambda _s, _t, _d: docs
        # the query module binds load_table at import time
        import feature_store_2_spark.queries.llm_text as llm_text

        saved = llm_text.load_table
        llm_text.load_table = lambda _s, _t, _d: docs
        try:
            pairs = {
                (r["doc1"], r["doc2"]): r["edit_distance"]
                for r in dedup_fuzzy_levenshtein(spark, "unused").collect()
            }
        finally:
            llm_text.load_table = saved
    finally:
        tables.load_table = original
    # Completeness: lev <= n_subs <= 4, so the pair must always surface.
    # (lev can be < n_subs when indels reach the edited key cheaper than
    # the substitutions did — e.g. rotations — so assert the bound, not
    # equality.)
    assert (0, 1) in pairs, (key, edited)
    assert pairs[(0, 1)] <= n_subs
    if n_subs == 0:
        assert pairs[(0, 1)] == 0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # user_id (collisions likely)
            st.sampled_from(["click", "purchase", "view"]),
        ),
        min_size=1,
        max_size=120,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_salted_distinct_equals_naive(spark, rows):
    """Disjoint-salt two-phase distinct must equal naive count_distinct
    for ANY data: salt = pmod(hash(user), 32) partitions users into
    disjoint classes, so per-(key, salt) distincts sum exactly."""
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    naive = {
        r["event_type"]: r["n"]
        for r in df.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    per_salt = df.groupBy(
        "event_type", F.pmod(F.hash("user_id"), F.lit(32)).alias("salt")
    ).agg(F.count_distinct("user_id").alias("d"))
    salted = {
        r["event_type"]: r["n"]
        for r in per_salt.groupBy("event_type")
        .agg(F.sum("d").alias("n"))
        .collect()
    }
    assert salted == naive


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd"),
                whitelist_characters=" .@-",
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_pii_redaction_idempotent_and_clean(spark, texts):
    """Redaction is idempotent (the [KIND] placeholders contain no
    PII-matchable substrings) and redacted text never still matches any
    PII pattern — for arbitrary input."""
    from feature_store_2_spark.operators.text import (
        PII_PATTERNS,
        pii_count,
        pii_redact,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = df.select("doc_id", pii_redact("text").alias("text"))
    counts_after = once.select(
        *[pii_count("text", k).alias(k) for k in PII_PATTERNS]
    ).collect()
    for r in counts_after:
        assert all(r[k] == 0 for k in PII_PATTERNS), r
    twice = once.select("doc_id", pii_redact("text").alias("text"))
    assert [r["text"] for r in once.collect()] == [
        r["text"] for r in twice.collect()
    ]


@given(
    n=st.integers(min_value=2, max_value=10**12),
    # boundary-inclusive (r7 advisor): threshold = -1 makes the
    # per-band collision probability exactly 0 (was ZeroDivisionError)
    # and recall >= 1 asked for log(0) (was math domain error)
    threshold=st.floats(min_value=-1.0, max_value=1.0),
    occ=st.integers(min_value=8, max_value=1024),
    recall=st.floats(min_value=0.0, max_value=1.0),
)
@settings(max_examples=200, deadline=None)
def test_srp_adaptive_params_invariants(n, threshold, occ, recall):
    """Pure-math invariants of the r7 adaptive LSH sizing over the full
    input space INCLUDING the boundaries: structural validity, the bit
    cap, and occupancy monotonicity (bigger corpus never gets narrower
    bands)."""
    from feature_store_2_spark.operators.dedup import (
        SRP_BAND_BITS,
        srp_adaptive_params,
    )

    n_bits, band_bits = srp_adaptive_params(
        n, threshold, target_occupancy=occ, recall=recall
    )
    assert band_bits >= SRP_BAND_BITS
    assert n_bits % band_bits == 0 and n_bits >= band_bits
    assert n_bits <= 256  # default cap
    # monotone in corpus size
    nb2, bb2 = srp_adaptive_params(
        n * 10, threshold, target_occupancy=occ, recall=recall
    )
    assert bb2 >= band_bits


def test_exact_value_gate_agrees_cross_engine(spark):
    """The r10 hostile-magnitude intake gates must agree ROW-BY-ROW
    between Spark (is_exact_value / try_cast) and the DuckDB oracle
    spelling (isfinite CASE + TRY_CAST) over a hostile double battery:
    boundary magnitudes around the DECIMAL(18,6) envelope, subnormals,
    signed zeros, huge/tiny powers of ten, and the non-finite trio.
    A single disagreeing point would silently shift every distribution
    operator's population on corrupted data."""
    import duckdb

    from feature_store_2_spark.functions.num import is_exact_value

    vals = [0.0, -0.0, 1.0, -1.0, 0.015, 123.456789, 1e-20, -1e-20,
            5e-324, 2.2250738585072014e-308,      # subnormal / min normal
            999999999999.5, -999999999999.5,      # just inside
            999999999999.999999,                   # boundary rounding
            1e12, -1e12, 1.0000000000001e12,       # at/over the envelope
            5e12, 9.9e15, 1e16, 9.2e18, 1e30, -1e30, 1.7e308,
            float("nan"), float("inf"), float("-inf"), None]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i int, value double")
    got = {
        r["i"]: r["ok"]
        for r in df.select(
            "i", is_exact_value(F.col("value")).alias("ok")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    exp = {
        i: bool(ok) if ok is not None else None
        for i, ok in con.execute(
            "SELECT i, (CASE WHEN isfinite(value) THEN "
            "TRY_CAST(value AS DECIMAL(18,6)) END IS NOT NULL) FROM t"
        ).fetchall()
    }
    bad = {
        i: (vals[i], got[i], exp[i])
        for i in got
        if bool(got[i]) != bool(exp[i])
    }
    assert not bad, bad


def test_vector_exact_gate_agrees_cross_engine(spark):
    """vector_exact vs its documented SQL twin over hostile vectors:
    NaN/Inf/NULL components, the all-|10| keeper, the norm-envelope
    boundary (the bound is strict and slop-shaved to 8191 — sum x^2 ==
    8191 exactly must be EXCLUDED on both, 8190 kept, and the real-math
    2^13 point 8192 stays excluded), and NULL vectors."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    from feature_store_2_spark.functions.vector import vector_exact

    dim = 64
    def full(v):
        return [float(v)] * dim
    vecs = [
        full(1.0),                                   # keeper
        full(10.0),                                  # norm 6400, keeper
        [float("nan")] + full(0.0)[1:],              # NaN component
        [float("inf")] + full(0.0)[1:],              # Inf component
        [None] + full(0.0)[1:],                      # NULL component
        full(50.0),                                  # envelope violation
        # pin the EXACT boundaries with integer components (exactly
        # representable in float32 AND in the double norm sum):
        # 2 components of 64.0 -> 8192, the real-math 2^13 point;
        # [90, 9, 3, 1] -> 8100+81+9+1 = 8191, the shaved bound itself
        # (strict <, so excluded); [90, 9, 3] -> 8190, just under.
        [64.0, 64.0] + full(0.0)[2:],                # 8192: excluded
        [64.0, 63.0] + full(0.0)[2:],                # 8065: kept
        None,                                        # NULL vector
        [90.0, 9.0, 3.0, 1.0] + full(0.0)[4:],       # == 8191: excluded
        [90.0, 9.0, 3.0] + full(0.0)[3:],            # 8190: kept
    ]
    d = tempfile.mkdtemp(prefix="vecgate_")
    t = pa.table({
        "i": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
    })
    pq.write_table(t, os.path.join(d, "v.parquet"))
    df = spark.read.parquet(os.path.join(d, "v.parquet"))
    got = {
        r["i"]: bool(r["ok"])
        for r in df.select(
            "i", vector_exact("embedding").alias("ok")
        ).fillna({"ok": False}).collect()
    }
    con = duckdb.connect()
    exp = {
        i: bool(ok) if ok is not None else False
        for i, ok in con.execute(
            "SELECT i, (embedding IS NOT NULL AND "
            "len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
            " AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) *"
            " CAST(x AS DOUBLE))) < 8191.0) FROM "
            f"read_parquet('{d}/v.parquet')"
        ).fetchall()
    }
    assert got == exp, {i: (got[i], exp[i]) for i in got if got[i] != exp[i]}
    # the keepers/violations land where the contract says
    assert got[0] and got[1] and got[7] and got[10]
    assert not any(got[i] for i in (2, 3, 4, 5, 6, 8, 9))


def test_cents_intake_agrees_spark_and_duckdb(spark):
    """The streaming-SUM cents contract (r11): every SUM intake converts
    EACH value to cents with ``try_cast(DECIMAL(18,2)) * 100`` (the batch
    plan and the streaming pipeline's ``_delta_aggregates``), and the
    DuckDB oracle's TRY_CAST must agree VALUE-BY-VALUE over a hostile
    battery — the shortest-repr-vs-binary HALF_UP traps (0.615's double
    is 0.61499..., 2.675's is 2.67499... — both engines must still say
    62/268), the x.xx5 half-way family, signed values, subnormals, and
    the (9e13, 1e16) band where cents exceed 2^53 and any float-carried
    arithmetic loses ulps. One disagreeing point re-opens the
    stream-vs-oracle divergence the r10 verdict found (sum-then-round
    in float vs round-then-sum in decimal).

    Out of scope: above |v| ~ 2^53/100 with fractional cents, DuckDB's
    double->decimal cast multiplies by 10^scale IN DOUBLE and loses ulps
    (91000000000000.25 -> .24) while Spark quantizes the shortest
    decimal rendering; the test corpora stay cents-aligned, so no
    oracle-checked entry depends on that band."""
    import duckdb

    vals = [0.004, 0.005, 0.0045, 0.615, -0.615, 2.675, 1.005, 0.445,
            8.165, 0.125, -0.125, 1.0, -1.0, 0.0, -0.0, 5e-324,
            2.2250738585072014e-308, 0.01, 123.456, 123.455,
            98000000000000.07, -98000000000000.07, 90000000000000.005,
            1234567890123.455, 3.14159265358979]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i int, value double")
    got_spark = {
        r["i"]: r["c"]
        for r in df.select(
            "i",
            (F.col("value").try_cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("c"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    # widen before *100: an 18-digit DECIMAL(18,2) would overflow the
    # same-width product (this is test plumbing, not the contract)
    got_duck = {
        i: int(c)
        for i, c in con.execute(
            "SELECT i, CAST(CAST(TRY_CAST(value AS DECIMAL(18,2)) AS"
            " DECIMAL(28,2)) * 100 AS BIGINT) FROM t"
        ).fetchall()
    }
    assert got_spark == got_duck, {
        i: (vals[i], got_spark[i], got_duck[i])
        for i in got_spark
        if got_spark[i] != got_duck[i]
    }

"""Unit tests for dedup / similarity / text operators on tiny in-memory
DataFrames (SURVEY.md §5 strategy: per-operator tests + driver oracle)."""

import pytest

from pyspark.sql import functions as F

from feature_store_2_spark.operators.dedup import (
    embedding_srp_near_pairs,
    exact_dedup_groups,
    minhash_lsh_candidate_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    simhash,
    simhash_near_pairs,
)
from feature_store_2_spark.sources.tables import load_table
from feature_store_2_spark.operators.similarity import (
    brute_force_topk,
    lsh_ann_topk,
    nearest_centroid_assign,
)
from feature_store_2_spark.operators.text import lang_guess, quality_score


@pytest.fixture(scope="module")
def docs(spark):
    # 60 unique tokens; the near-dup changes exactly one token, so
    # shingle Jaccard is 55/61 ≈ 0.90 — squarely in "near duplicate"
    # territory where banded MinHash must fire (the old 10-token corpus
    # left J ≈ 0.5, where a band collision is a coin flip by design).
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok30", "tokX")
    other = " ".join(f"zzz{i}" for i in range(60))
    return spark.createDataFrame(
        [(0, base), (1, near), (2, other), (3, base)],
        "doc_id long, text string",
    )


def test_exact_dedup_finds_identical_docs(spark, docs):
    groups = {r["canonical_id"]: r["n_dupes"] for r in exact_dedup_groups(docs).collect()}
    assert groups[0] == 2  # docs 0 and 3 identical
    assert groups[1] == 1 and groups[2] == 1


def test_ngram_jaccard_separates_near_and_far(spark, docs):
    pairs = {(r["doc1"], r["doc2"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, 0.3).collect()}
    assert pairs[(0, 3)] == 1.0
    assert 0.3 <= pairs[(0, 1)] < 1.0  # near-dup
    assert (0, 2) not in pairs  # unrelated

def test_minhash_lsh_recovers_near_dups(spark, docs):
    pairs = {(r["doc1"], r["doc2"]) for r in minhash_lsh_candidate_pairs(docs).collect()}
    assert (0, 3) in pairs and (0, 1) in pairs and (0, 2) not in pairs


def test_simhash_near_pairs(spark, docs):
    pairs = {(r["doc1"], r["doc2"]): r["hamming"] for r in simhash_near_pairs(docs, 3).collect()}
    assert pairs[(0, 3)] == 0
    assert (0, 2) not in pairs


def test_simhash_near_pairs_rejects_radius_beyond_pigeonhole(spark, docs):
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, 4)


def test_simhash_bucketed_equals_brute_force(spark, sf_dir):
    """Byte-bucket candidate generation is exact for hamming < 4:
    compare against an in-Python all-pairs scan of the signatures."""
    d = load_table(spark, "documents", sf_dir)
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(d).collect()}
    ids = sorted(sigs)
    for radius in (1, 3):
        expect = {
            (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sigs[a] ^ sigs[b]).count("1") <= radius
        }
        got = {
            (r["doc1"], r["doc2"], r["hamming"])
            for r in simhash_near_pairs(d, radius).collect()
        }
        assert got == expect


def test_simhash_near_pairs_plan_has_no_nested_loop(spark, docs):
    plan = simhash_near_pairs(docs, 1)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_ngram_jaccard_prefix_equals_exact(spark, sf_dir):
    """Prefix-filtered candidates are deterministic-COMPLETE: the
    AllPairs path returns the SAME pair set as the exact quadratic form
    on the real documents corpus, at more than one threshold."""
    d = load_table(spark, "documents", sf_dir)
    for t in (0.5, 0.3):
        exact = {
            (r["doc1"], r["doc2"], round(r["jaccard"], 12))
            for r in ngram_jaccard_pairs(d, t).collect()
        }
        prefix = {
            (r["doc1"], r["doc2"], round(r["jaccard"], 12))
            for r in ngram_jaccard_pairs_prefix(d, t).collect()
        }
        assert prefix == exact
    assert exact  # non-trivial corpus: pairs exist


def test_embedding_srp_pairs_subset_of_exact_with_recall(spark, sf_dir):
    """SRP-band candidates + exact re-rank: precision 1.0 (every emitted
    pair really clears the threshold — subset of the exact all-pairs
    result with identical cosines) and recall on the real corpus at the
    catalog threshold is non-trivial. Deterministic hyperplanes make
    both numbers reproducible."""
    e = load_table(spark, "embeddings", sf_dir)
    t = 0.45
    exact = {
        (r["vec1"], r["vec2"], round(r["cosine"], 12))
        for r in _exact_cosine_pairs(e, t).collect()
    }
    ann = {
        (r["vec1"], r["vec2"], round(r["cosine"], 12))
        for r in embedding_srp_near_pairs(e, threshold=t).collect()
    }
    assert ann <= exact
    assert exact  # non-trivial corpus: pairs exist above threshold
    assert len(ann) / len(exact) >= 0.5  # 8 bands x 4 bits at cos 0.45


def _exact_cosine_pairs(emb, threshold):
    from feature_store_2_spark.functions.vector import (
        cosine_from_parts,
        qdot,
        qnorm2,
        quantize,
    )

    e = (
        emb.select("vec_id", quantize("embedding").alias("v"))
        .withColumn("n2", qnorm2(F.col("v")))
    )
    a = e.select(F.col("vec_id").alias("vec1"), F.col("v").alias("va"), F.col("n2").alias("na"))
    b = e.select(F.col("vec_id").alias("vec2"), F.col("v").alias("vb"), F.col("n2").alias("nb"))
    cos = cosine_from_parts(qdot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    return (
        a.join(b, F.col("vec1") < F.col("vec2"))
        .select("vec1", "vec2", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def test_embedding_srp_pairs_plan_has_no_nested_loop(spark, sf_dir):
    e = load_table(spark, "embeddings", sf_dir)
    plan = (
        embedding_srp_near_pairs(e)._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_srp_broadcast_attach_plan_and_value_parity(spark, sf_dir):
    """broadcast_attach pins the vector-attach joins to
    BroadcastHashJoin (the 30x rehearsal found the default SMJ attach
    reshuffling 58M candidate rows TWICE with ~520 B vector payloads —
    ~30 GB of spill; the vector table is n rows and broadcastable far
    beyond test scale) and must not change a single output value —
    it is a physical-strategy hint only. The scored wrappers enable it
    below SRP_ATTACH_BROADCAST_MAX."""
    from feature_store_2_spark.operators.dedup import (
        SRP_ATTACH_BROADCAST_MAX,
        embedding_srp_knn_join,
        embedding_srp_near_pairs_scored,
    )

    e = load_table(spark, "embeddings", sf_dir)
    assert e.count() <= SRP_ATTACH_BROADCAST_MAX
    plan = (
        embedding_srp_near_pairs_scored(e)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, "vector attach fell back to SMJ"

    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    smj = {
        key(r): (r["neighbor_id"], r["cosine"])
        for r in embedding_srp_knn_join(e, k=3, broadcast_attach=False).collect()
    }
    bhj = {
        key(r): (r["neighbor_id"], r["cosine"])
        for r in embedding_srp_knn_join(e, k=3, broadcast_attach=True).collect()
    }
    assert smj == bhj and smj


def test_srp_matrix_rerank_value_parity(spark, sf_dir):
    """matrix_rerank (r12) scores candidates via a broadcast numpy
    matrix gather + int64 einsum instead of the JVM aggregate/zip_with
    dot — a physical re-rank strategy only. The int64 dot is exact
    under the VEC_NORM2_BOUND envelope on both paths, so every
    (pair, cosine) must be BIT-identical; the scored wrappers enable
    it below SRP_MATRIX_RERANK_MAX."""
    from feature_store_2_spark.operators.dedup import (
        SRP_MATRIX_RERANK_MAX,
        embedding_srp_knn_join,
        embedding_srp_near_pairs,
    )

    e = load_table(spark, "embeddings", sf_dir)
    assert e.count() <= SRP_MATRIX_RERANK_MAX

    pk = lambda r: (r["vec1"], r["vec2"])  # noqa: E731
    jvm_pairs = {
        pk(r): r["cosine"]
        for r in embedding_srp_near_pairs(e, matrix_rerank=False).collect()
    }
    mat_pairs = {
        pk(r): r["cosine"]
        for r in embedding_srp_near_pairs(e, matrix_rerank=True).collect()
    }
    assert jvm_pairs == mat_pairs and jvm_pairs

    kk = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    jvm_knn = {
        kk(r): (r["neighbor_id"], r["cosine"])
        for r in embedding_srp_knn_join(e, k=3, matrix_rerank=False).collect()
    }
    mat_knn = {
        kk(r): (r["neighbor_id"], r["cosine"])
        for r in embedding_srp_knn_join(e, k=3, matrix_rerank=True).collect()
    }
    assert jvm_knn == mat_knn and jvm_knn


def _matrix_base(spark, rows):
    return spark.createDataFrame(rows, "vid long, v array<long>")


def test_srp_matrix_rerank_rejects_absent_ids(spark):
    """A candidate id missing from the matrix raises, whether it falls
    between two present ids (searchsorted would gather the next row's
    vector) or past the last one (it would index out of range)."""
    from feature_store_2_spark.operators.dedup import _matrix_dot_udf

    dot_ids = _matrix_dot_udf(
        _matrix_base(spark, [(10, [1, 2]), (20, [3, 4]), (30, [5, 6])]), dim=2
    )
    pairs = lambda rows: spark.createDataFrame(rows, "q long, nb long")  # noqa: E731
    ok = pairs([(10, 30), (20, 20)]).select(dot_ids("q", "nb").alias("d"))
    assert [r["d"] for r in ok.collect()] == [1 * 5 + 2 * 6, 3 * 3 + 4 * 4]
    for bad in ([(10, 15)], [(99, 10)], [(10, 5)]):
        with pytest.raises(Exception, match="absent from the matrix"):
            pairs(bad).select(dot_ids("q", "nb")).collect()


def test_srp_matrix_rerank_rejects_wrong_length_vectors(spark):
    """Vectors of a constant length other than ``dim`` would reshape
    into misaligned rows; the builder raises instead."""
    from feature_store_2_spark.operators.dedup import _matrix_dot_udf

    base = _matrix_base(spark, [(1, [1, 2, 3]), (2, [4, 5, 6])])
    with pytest.raises(ValueError, match="length != dim=2"):
        _matrix_dot_udf(base, dim=2)


def test_srp_matrix_rerank_bounds_the_collect(spark, monkeypatch):
    """A direct ``matrix_rerank=True`` caller cannot collect a corpus
    past SRP_MATRIX_RERANK_MAX: the builder takes at most one row past
    the bound and raises."""
    from feature_store_2_spark.operators import dedup

    base = _matrix_base(spark, [(i, [i, i]) for i in range(5)])
    monkeypatch.setattr(dedup, "SRP_MATRIX_RERANK_MAX", 5)
    dedup._matrix_dot_udf(base, dim=2)
    monkeypatch.setattr(dedup, "SRP_MATRIX_RERANK_MAX", 4)
    with pytest.raises(ValueError, match="exceeds SRP_MATRIX_RERANK_MAX=4"):
        dedup._matrix_dot_udf(base, dim=2)


def test_brute_force_topk_ranks_identical_vector_first(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-identical to 0
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),    # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]
    by_id = {r["neighbor_id"]: r["cosine"] for r in out}
    assert by_id[1] > 0.99 and abs(by_id[2]) < 1e-6 and by_id[3] < -0.99


def test_lsh_ann_topk_recall_floor(spark, sf_dir):
    """SRP-bucketed ANN recall@5 vs brute force on the real corpus:
    deterministic hyperplanes make the number reproducible (measured
    0.34 at sf0.001 / 0.48 at sf0.01, n_bits=4, random vectors — single
    bucket, no multiprobe). Floor pins regressions, not aspiration."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(e, q, k=5).collect()}
    ann = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann_topk(e, q, k=5, n_bits=4).collect()
    }
    assert ann  # candidates exist in every query's bucket
    assert len(ann & bf) / len(bf) >= 0.3


def test_srp_query_topk_scored_recall_floor(spark, sf_dir):
    """The r9-promoted scored form of emb_lsh_ann_topk (adaptive band
    layout, query-filtered + broadcast band join) holds a HIGHER recall
    floor than the fixed 16-bucket multiprobe it replaced: the band
    count comes from the recall-0.9 bound (12 bands at band_bits=4 on
    this corpus), so recall@5 vs brute force is measured 0.96 at
    sf0.001. Floor pins regressions, not aspiration."""
    from feature_store_2_spark.operators.dedup import (
        embedding_srp_query_topk_scored,
    )

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(e, q, k=5).collect()}
    ann = {
        (r.query_id, r.neighbor_id)
        for r in embedding_srp_query_topk_scored(
            e, query_filter=F.col("vid") < 10, k=5
        ).collect()
    }
    assert ann
    assert len(ann & bf) / len(bf) >= 0.8


def test_nearest_centroid_assigns_clusters(spark):
    rows = [
        (0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0),
        (2, [0.0, 1.0], 1), (3, [0.1, 0.9], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r["assigned_label"] for r in nearest_centroid_assign(emb, dim=2).collect()}
    assert out == {0: 0, 1: 0, 2: 1, 3: 1}


def test_lang_guess_and_quality(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat of the house saw a mouse"),
            (1, "der hund und die katze und das haus"),
            (2, "xyzzy plugh quux"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["g"] for r in df.select("doc_id", lang_guess("text").alias("g")).collect()}
    assert got == {0: "en", 1: "de", 2: "und"}
    q = {r["doc_id"]: r["q"] for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert 0 < q[0] <= 1.0


def test_srp_arrow_band_keys_match_expression_form(spark, sf_dir):
    """The Arrow (numpy matmul) SRP signature must emit bit-identical
    band keys to the pure-expression form it replaced in the hot path —
    integer arithmetic end to end, so exact equality, not tolerance."""
    from feature_store_2_spark.operators.dedup import (
        srp_band_keys,
        srp_band_keys_arrow,
    )
    from feature_store_2_spark.functions.vector import quantize

    e = load_table(spark, "embeddings", sf_dir)
    base = e.select(
        F.col("vec_id").alias("vid"), quantize(F.col("embedding")).alias("v")
    )
    expr = base.select(
        "vid", F.explode(srp_band_keys(F.col("v"))).alias("bb")
    ).select("vid", F.col("bb.band").cast("int").alias("band"), F.col("bb.bkey").alias("bkey"))
    arw = base.select(
        "vid", F.posexplode(srp_band_keys_arrow()(F.col("v"))).alias("band", "bkey")
    )
    assert expr.exceptAll(arw).count() == 0
    assert arw.exceptAll(expr).count() == 0


def test_kmeans_fit_converges_and_is_layout_invariant(spark, sf_dir):
    """Lloyd loop: converges on the corpus, inertia never increases
    round-over-round, and the fit is bit-identical under a different
    input partitioning (the determinism contract that makes a retried
    stage safe)."""
    from feature_store_2_spark.operators.similarity import kmeans_fit
    from feature_store_2_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    stats = {}
    fit = kmeans_fit(emb, k=4, max_iter=25, stats=stats)
    rows = {r["vec_id"]: (r["cluster"], r["dist2_q"]) for r in fit.collect()}
    assert len(rows) == emb.count()
    assert stats["rounds"] < 25, "did not converge"
    assert len({c for c, _ in rows.values()}) > 1, "degenerate single cluster"

    refit = kmeans_fit(emb.repartition(7, "vec_id"), k=4, max_iter=25)
    rows2 = {r["vec_id"]: (r["cluster"], r["dist2_q"]) for r in refit.collect()}
    assert rows == rows2, "fit depends on input partitioning"

def test_knn_join_recall_floor_and_ranking_exactness(spark, sf_dir):
    """Corpus x corpus SRP k-NN join vs brute force over EVERY vector:
    (a) emitted neighbors are ranked by the exact cosine with the
    brute-force tie-break (any emitted (q, n) pair at rank r has
    cosine <= the exact rank-r cosine), and (b) recall@5 clears a
    deterministic floor (md5-parity hyperplanes, 8 bands x 4 bits).
    Floor pins regressions, not aspiration."""
    from feature_store_2_spark.operators.dedup import embedding_srp_knn_join

    e = load_table(spark, "embeddings", sf_dir)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(e, e, k=5).collect()
    }
    ann_rows = embedding_srp_knn_join(e, k=5).collect()
    ann = {(r.query_id, r.neighbor_id) for r in ann_rows}
    assert ann  # every band bucket is non-trivially occupied
    assert len(ann & bf) / len(bf) >= 0.5
    by_query = {}
    for r in ann_rows:
        by_query.setdefault(r.query_id, []).append((r.rank, r.cosine))
    for q, rows in by_query.items():
        ranks = sorted(rows)
        assert [x[0] for x in ranks] == list(range(1, len(ranks) + 1)), q
        cosines = [x[1] for x in ranks]
        assert cosines == sorted(cosines, reverse=True), q


def test_pii_detection_and_redaction_positive_cases(spark):
    """The synthetic corpus has zero PII, so the oracle row for
    doc_pii_scan only proves the all-zero path; positive matches and
    the redaction ORDER (email first, so digit runs inside addresses
    are gone before phone/ssn) are pinned here on crafted rows."""
    from feature_store_2_spark.operators.text import pii_count, pii_redact

    rows = [
        (1, "contact bob.smith+x@example.co.uk for details"),
        (2, "call 555-123-4567 or 555.987.6543 now"),
        (3, "ssn 123-45-6789 leaked"),
        (4, "server at 10.0.255.1 responded"),
        (5, "mixed: a@b.io and 111-22-3333 and 1.2.3.4"),
        (6, "clean text with numbers 12345 and words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            pii_count("text", "email").alias("e"),
            pii_count("text", "phone").alias("p"),
            pii_count("text", "ssn").alias("s"),
            pii_count("text", "ipv4").alias("i"),
            pii_redact("text").alias("red"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["p"], out[1]["s"], out[1]["i"]) == (1, 0, 0, 0)
    assert out[1]["red"] == "contact [EMAIL] for details"
    assert out[2]["p"] == 2 and out[2]["red"] == "call [PHONE] or [PHONE] now"
    assert out[3]["s"] == 1 and out[3]["red"] == "ssn [SSN] leaked"
    assert out[4]["i"] == 1 and out[4]["red"] == "server at [IPV4] responded"
    assert (out[5]["e"], out[5]["s"], out[5]["i"]) == (1, 1, 1)
    assert out[5]["red"] == "mixed: [EMAIL] and [SSN] and [IPV4]"
    assert out[6]["red"] == rows[5][1], "clean text must pass through unchanged"


def test_pii_scan_matches_duckdb_on_crafted_rows(spark, tmp_path):
    """Cross-engine pin on rows that actually MATCH: write crafted docs
    to parquet, run the doc_pii_scan Spark plan and its DuckDB oracle
    on them, compare values — covers the regex-dialect risk the all-
    zero synthetic corpus cannot."""
    import duckdb

    from feature_store_2_spark.queries import CATALOG

    rows = [
        (1, "reach x.y@corp.example.com or 999-555-1234", "en", "src0", 40),
        (2, "ssn 987-65-4321 ip 192.168.1.100", "en", "src0", 32),
        (3, "nothing sensitive here at all", "en", "src1", 29),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    q = next(q for q in CATALOG if q.name == "doc_pii_scan")
    got = {
        r["doc_id"]: (
            r["n_email"], r["n_phone"], r["n_ssn"], r["n_ipv4"],
            r["has_pii"], r["redacted"],
        )
        for r in q.fn(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    exp = {
        r[0]: tuple(r[1:])
        for r in con.execute(q.oracle).fetchall()
    }
    assert got == exp, (got, exp)


def test_srp_adaptive_params_sizing_and_recall(spark, sf_dir):
    """srp_adaptive_params (r7 scale-rehearsal fix): band width grows
    with corpus size so bucket occupancy — the n^2/16 fixed-band
    candidate term the 10x rehearsal measured — stays bounded, band
    count holds the recall bound, and the signature is capped. Recall
    floor checked on the real corpus at the catalog threshold."""
    from feature_store_2_spark.operators.dedup import srp_adaptive_params

    # occupancy-bounded: band_bits strictly grows with corpus size
    bb = [srp_adaptive_params(n, 0.8)[1] for n in (10**3, 10**6, 10**9)]
    assert bb == sorted(bb) and bb[-1] > bb[0]
    # cap honored at the expensive corner (low threshold, high recall)
    n_bits, band_bits = srp_adaptive_params(10**9, 0.45, max_bits=256)
    assert n_bits <= 256 and n_bits % band_bits == 0
    # production threshold needs far fewer bits than the demo threshold
    # (uncapped comparison: both sides hit a small max_bits otherwise)
    assert srp_adaptive_params(10**6, 0.8, max_bits=10**6)[0] < (
        srp_adaptive_params(10**6, 0.45, max_bits=10**6)[0]
    )

    e = load_table(spark, "embeddings", sf_dir)
    t = 0.45
    n = e.count()
    nb, bb2 = srp_adaptive_params(n, t)
    exact = {
        (r["vec1"], r["vec2"], round(r["cosine"], 12))
        for r in _exact_cosine_pairs(e, t).collect()
    }
    ann = {
        (r["vec1"], r["vec2"], round(r["cosine"], 12))
        for r in embedding_srp_near_pairs(
            e, threshold=t, n_bits=nb, band_bits=bb2
        ).collect()
    }
    assert ann <= exact  # precision 1.0: exact re-rank
    assert exact
    assert len(ann) / len(exact) >= 0.6  # adaptive bound targets 0.9


def test_zipf_profile_rank_contiguous_and_mass_monotone(spark, sf_dir):
    """doc_zipf_rank_frequency invariants the oracle can't state:
    ranks contiguous from 1 in frequency order, cumulative ppm mass
    monotone and bounded by 1e6, and the last row's ppm equals the
    floor-DIV share of the summed top-k frequencies (internal
    consistency of the integer arithmetic)."""
    from feature_store_2_spark.queries.llm_text import (
        doc_zipf_rank_frequency,
    )
    from feature_store_2_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = (
        doc_zipf_rank_frequency(spark, sf_dir)
        .orderBy("rank")
        .collect()
    )
    assert rows, "profile must not be empty"
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    ppms = [r.cum_share_ppm for r in rows]
    assert ppms == sorted(ppms) and 0 < ppms[-1] <= 1_000_000
    assert all(r.rank_freq_product == r.rank * r.freq for r in rows)

    total = (
        load_table(spark, "documents", sf_dir)
        .select(F.explode(F.split("text", " ")).alias("t"))
        .count()
    )
    assert ppms[-1] == sum(freqs) * 1_000_000 // total


def test_pii_email_regex_linear_on_hostile_text(spark):
    """r11 fixture-class-11b find: the UNBOUNDED email pattern
    ([A-Za-z0-9._%+-]+@...) was O(len^2) in Java's backtracking regex
    on a 1M-char single-token doc (greedy class eats to EOL, '@' never
    comes, find() restarts at every position — one core pegged for an
    hour); DuckDB's RE2 is linear and never showed it. The quantifiers
    are now RFC-bounded ({1,64} local, {1,255} domain, {2,24} TLD),
    which caps per-position backtracking. Pins: (a) the hostile doc
    completes in seconds, (b) counts still agree with DuckDB on it and
    on the >64-char local part (both engines match the TRAILING 64
    chars, leftmost-first), (c) the positive cases above still hold."""
    import time

    import duckdb

    from feature_store_2_spark.operators.text import PII_PATTERNS, pii_count

    rows = [
        (1, "q" * 1_000_000),                       # the hour-long case
        (2, "x" * 100 + "@example.com tail"),       # >64 local part
        (3, "a" * 300 + "@" + "b" * 300 + ".com"),  # >255 domain
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.time()
    out = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", pii_count("text", "email").alias("n")
        ).collect()
    }
    assert time.time() - t0 < 60, "email regex went super-linear again"
    con = duckdb.connect()
    for i, t in rows:
        d = con.execute(
            "SELECT len(regexp_extract_all(?, ?))",
            [t, PII_PATTERNS["email"]],
        ).fetchone()[0]
        assert d == out[i], (i, d, out[i])
    assert out[1] == 0 and out[2] == 1

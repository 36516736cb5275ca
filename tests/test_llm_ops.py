"""Behavioral tests for group F operators — properties the oracle can't
express: LSH recall vs the exact baseline, planted near-duplicates being
found, simhash locality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from nyc_taxi_data_engineering_project_spark import registry
from nyc_taxi_data_engineering_project_spark.catalog import table
from nyc_taxi_data_engineering_project_spark.queries import llm
from nyc_taxi_data_engineering_project_spark.queries.llm import planted_offset

registry.load_all()


def _offset(spark):
    return planted_offset(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )


def test_minhash_finds_planted_neardups(spark):
    out = registry.QUERIES["f2_minhash_dedup"](spark, SF_DIR).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    off = _offset(spark)
    planted = {(i, i + off) for i in range(20)}
    found = planted & pairs
    # dropping 2 trailing tokens keeps Jaccard high; LSH with 4 bands of 8
    # (n_hashes=32, rows_per_band=8 in llm.py) must surface the large
    # majority of planted pairs
    assert len(found) >= 15, f"only {len(found)}/20 planted pairs found"
    for r in out:
        if (r.doc_a, r.doc_b) in planted:
            assert r.jaccard >= 0.6


# Exact all-pairs Jaccard over f2's planted corpus — the ground truth the
# LSH path approximates. Not an oracle (banding recall < 1 by design; see
# f2's docstring), but the base of the soundness + recall gate below.
_F2_EXACT_PAIRS_SQL = """
WITH corpus AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    UNION ALL
    SELECT doc_id + (SELECT MAX(doc_id)+1 FROM documents) AS doc_id,
           toks[1:len(toks)-2] AS toks
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE doc_id < 20 AND len(toks) >= 3
), sh AS (
    SELECT doc_id,
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          FOR i IN generate_series(1, len(toks)-2)]) AS grams
    FROM corpus WHERE len(toks) >= 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.grams, b.grams))::DOUBLE
       / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.6
"""


def test_minhash_soundness_and_recall_vs_exact(spark, oracle_con):
    """f2 soundness: every emitted pair must be a true exact-Jaccard
    ≥ 0.6 pair with the right value (catches a broken verify step);
    recall: banding may miss pairs, but only a few (measured 0.97-0.98
    on this corpus)."""
    out = registry.QUERIES["f2_minhash_dedup"](spark, SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    exact = {
        (int(r.doc_a), int(r.doc_b)): r.jaccard
        for r in oracle_con.sql(_F2_EXACT_PAIRS_SQL).df().itertuples()
    }
    for p, j in got.items():
        assert p in exact, f"unsound pair {p} (below-threshold emitted)"
        assert abs(j - exact[p]) < 1e-3, (p, j, exact[p])
    assert len(got) >= 0.9 * len(exact), (
        f"recall {len(got)}/{len(exact)} below 0.9"
    )


def test_lsh_ann_recall_vs_bruteforce(spark):
    exact = registry.QUERIES["f3_cosine_topk"](spark, SF_DIR).collect()
    approx = registry.QUERIES["f3_lsh_ann"](spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 4-bit multi-probe LSH (own bucket + 4 Hamming-1 probes) over
    # isotropic random vectors: a true neighbor is found when at most one
    # hyperplane separates it — far above the 5/16 random-bucket baseline
    assert mean_recall >= 0.25, f"mean recall {mean_recall:.2f}"
    # within-bucket results must agree with exact cosine ordering
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_simhash_locality(spark):
    """Near-identical documents must have near-identical simhashes."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "the quick brown fox jumps over the lazy dog near the shore"),
            (3, "completely different words about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    import os
    import tempfile

    tmp = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = {
        r.doc_id: r.simhash64
        for r in registry.QUERIES["f10_simhash"](spark, tmp).collect()
    }

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])
    assert hamming(out[1], out[2]) <= 16


def test_dedup_clusters_resolve_planted_pairs(spark):
    """Connected components must put each planted near-dup with its
    source doc, keep exactly one representative per cluster, and label
    clusters by their minimum member."""
    out = registry.QUERIES["f14_dedup_clusters"](spark, SF_DIR).collect()
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    keeps = {r.doc_id for r in out if r.keep}
    off = _offset(spark)
    planted_found = [
        i for i in range(20)
        if i in cluster_of and (i + off) in cluster_of
    ]
    assert len(planted_found) >= 15
    for i in planted_found:
        assert cluster_of[i + off] == cluster_of[i]
    # exactly one keeper per cluster, and it is the minimum member
    import collections

    members = collections.defaultdict(list)
    for r in out:
        members[r.cluster_id].append(r.doc_id)
    for cid, docs in members.items():
        assert cid == min(docs)
        assert len(set(docs) & keeps) == 1


def test_minhash_survives_short_documents(spark):
    """Regression: a 1-token doc among doc_id<20 must be skipped, not
    crash the planted-mutation slice (negative slice length) or the
    shingle sequence (sequence(1,0) is [1,0], not empty)."""
    import os
    import tempfile

    docs = spark.createDataFrame(
        [
            (0, "tiny"),
            (1, "two tokens"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        "doc_id long, text string",
    )
    tmp = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = registry.QUERIES["f2_minhash_dedup"](spark, tmp).collect()
    # offset for this 4-doc corpus is max_id+1 = 4; short docs 0 and 1
    # (planted ids 4, 5) must be absent entirely
    assert all(r.doc_a not in (0, 1) and r.doc_b not in (4, 5)
               for r in out)


def test_exact_dedup_counts(spark):
    out = registry.QUERIES["f1_exact_dedup"](spark, SF_DIR)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    agg = out.agg(
        F.sum("n_copies").alias("total"), F.count("*").alias("n_groups")
    ).collect()[0]
    assert agg.total == n_docs  # every doc accounted for exactly once
    assert agg.n_groups <= n_docs


def test_ml_tfidf_pipeline_consistency(spark):
    """The ml-pipeline TF-IDF must agree with first principles: per doc,
    0 < active tfidf terms <= distinct tokens (ubiquitous terms get IDF 0
    and drop out; hash collisions can only merge terms, never add)."""
    out = {
        r.doc_id: r
        for r in registry.QUERIES["f19_ml_tfidf_pipeline"](
            spark, SF_DIR
        ).collect()
    }
    distinct = {
        r.doc_id: r.n_distinct
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr(
            "doc_id",
            "size(array_distinct(split(lower(text), ' '))) AS n_distinct",
        )
        .collect()
    }
    assert set(out) == set(distinct)
    for doc_id, r in out.items():
        assert 0 < r.n_active_terms <= distinct[doc_id]
        assert r.tfidf_l2 > 0


def test_ml_minhash_lsh_finds_planted_neardups(spark):
    """The library-form LSH must surface the same planted duplicates the
    from-scratch pipeline (f2) finds."""
    out = registry.QUERIES["f20_ml_minhash_lsh"](spark, SF_DIR).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    off = _offset(spark)
    planted = {(i, i + off) for i in range(20)}
    assert len(planted & pairs) >= 15
    for r in out:
        if (r.doc_a, r.doc_b) in planted:
            assert r.jaccard >= 0.6


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF with nprobe=4 of 16 cells must recall well over half of the
    exact top-5 (the seed quantizer measures ~0.5-0.6 on the isotropic
    synthetic vectors — beats LSH's ~0.4 here), and agree with exact
    cosine values on overlaps."""
    exact = registry.QUERIES["f3_cosine_topk"](spark, SF_DIR).collect()
    approx = registry.QUERIES["f21_ivf_ann"](spark, SF_DIR).collect()
    es, approx_sets = {}, {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(es[q] & approx_sets.get(q, set())) / len(es[q]) for q in es
    ]
    assert sum(recalls) / len(recalls) >= 0.4
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_boilerplate_removal_reassembly(spark):
    """f25: docs with nothing removed must reassemble to their original
    text exactly (blocks are a disjoint cover of the token stream), and
    the corpus must contain SOME cross-doc boilerplate (planted repeats
    exist at every SF)."""
    out = {r.doc_id: r for r in
           registry.QUERIES["f25_boilerplate_removal"](spark, SF_DIR).collect()}
    docs = {r.doc_id: r.text
            for r in table(spark, SF_DIR, "documents").collect()}
    assert sum(r.n_removed for r in out.values()) > 0
    untouched = [d for d, r in out.items() if r.n_removed == 0]
    assert untouched, "expected some documents without boilerplate"
    for d in untouched:
        assert out[d].clean_text == docs[d]


def test_passage_dedup_keeps_one_occurrence_per_block(spark):
    """f26: global invariant — dropped = total blocks - distinct blocks
    (each distinct passage survives exactly once)."""
    rows = registry.QUERIES["f26_passage_dedup"](spark, SF_DIR).collect()
    total = sum(r.n_blocks for r in rows)
    dropped = sum(r.n_dropped for r in rows)
    docs = table(spark, SF_DIR, "documents").select(
        "doc_id", F.split("text", " ").alias("toks"))
    distinct_blocks = (
        docs.select(F.explode(
            llm._word_blocks(F.col("toks"), llm._PASSAGE_W)).alias("b"))
        .distinct().count()
    )
    assert dropped == total - distinct_blocks


def test_chunking_covers_documents(spark):
    """f27: chunk 0 is the first 32 tokens; the last chunk ends exactly
    at the document end; consecutive chunks overlap by 8 tokens."""
    chunks = {}
    for r in registry.QUERIES["f27_chunk_rag"](spark, SF_DIR).collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_id] = r
    docs = {r.doc_id: r.text.split(" ")
            for r in table(spark, SF_DIR, "documents").collect()}
    assert set(chunks) == set(docs)
    for d, toks in docs.items():
        got = chunks[d]
        n = len(toks)
        expect_chunks = -(-max(n - 32, 0) // 24) + 1
        assert len(got) == expect_chunks
        assert got[0].chunk_text == " ".join(toks[:32])
        last = got[len(got) - 1]
        assert last.n_tokens == n - 24 * (len(got) - 1)


def test_doc_clustering_partitions_corpus(spark):
    """f28: cluster sizes must sum to the corpus size with at most k
    non-empty clusters."""
    rows = registry.QUERIES["f28_doc_clustering"](spark, SF_DIR).collect()
    n = table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n
    assert 1 <= len(rows) <= 8
    assert all(0 <= r.cluster_id < 8 for r in rows)


def test_hll_sketch_union_estimate_within_tolerance(spark):
    """c38's per-day-sketch → month-union estimate must land within the
    HLL error envelope of the exact distinct count (c37's bitmap path is
    the exact twin — together they pin both sides of the merge-partials
    pattern)."""
    from nyc_taxi_data_engineering_project_spark import registry

    registry.load_all()
    est = {r.month: r.approx_users for r in
           registry.QUERIES["c38_hll_sketch_union"](spark, SF_DIR).collect()}
    exact = {r.month: r.distinct_users for r in
             registry.QUERIES["c37_bitmap_distinct_rollup"](
                 spark, SF_DIR).collect()}
    assert set(est) == set(exact)
    for month, e in est.items():
        x = exact[month]
        assert abs(e - x) <= max(2, 0.05 * x) * 3, (month, e, x)


def test_f13_plane_prefix_covers_beyond_100tb_and_is_stable():
    """f13's base planes (the LSH stream) hold 40 planes — by the sizing
    rule k = round(log2(n/64 + 1)) that covers ~7e13 vectors, beyond
    any 100 TB corpus — and must stay PREFIX-STABLE (plane i identical
    at every k) so the inlined DuckDB oracle's [1:k] slice always
    matches the Spark side; past the envelope the accessor refuses."""
    import math

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _MAX_PLANES,
        _planes,
    )

    # 100 TB at a (generous) 1 KB/row is 1e11 vectors; pad two orders
    k_100tb = max(2, round(math.log2(1e13 / 64 + 1)))
    assert k_100tb <= _MAX_PLANES

    assert _planes("lsh", 2) == _planes("lsh", _MAX_PLANES)[:2]
    assert _planes("lsh", 16) == _planes("lsh", 40)[:16]
    with pytest.raises(ValueError, match="_MAX_PLANES"):
        _planes("lsh", _MAX_PLANES + 1)


def test_f2_star_fallback_keeps_megacluster_connected(spark):
    """Regression pin for the r6 100×-stress finding (SCALE.md §11a): a
    duplicate family WIDER than the LSH bucket cap (64) used to be
    dropped wholesale — planted recall 0.15 at K=100 — because every
    band bucket it filled exceeded the cap. Over-cap buckets must now
    emit star pairs to the bucket's min-id representative, so the
    family stays connected (and here, where all members are identical,
    every star pair verifies at Jaccard 1.0). 80 identical docs +
    their 20 planted mutants ≈ a 100-member family: over the cap in
    EVERY band, so nothing but the star path can surface it."""
    import os
    import tempfile

    text = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(i, text) for i in range(80)], "doc_id long, text string"
    )
    tmp = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = registry.QUERIES["f2_minhash_dedup"](spark, tmp).collect()
    assert out, "mega-cluster dropped entirely (the r5 cap behavior)"
    # rep = global min doc_id = 0; every other family member must be
    # reachable from it in one hop
    linked_to_rep = {r.doc_b for r in out if r.doc_a == 0}
    assert set(range(1, 80)) <= linked_to_rep, (
        sorted(set(range(1, 80)) - linked_to_rep)[:10]
    )
    for r in out:
        assert r.jaccard >= 0.6  # soundness: star candidates verified


def test_f13_star_path_megabucket(spark):
    """The >512 hot-bucket star machinery in f13, exercised directly —
    dormant on every other corpus in the suite (driver SFs and the 100×
    stress both stay under the split threshold, SCALE.md §11e). 600
    identical vectors: one bucket of width 600, the 8-bit sub-split
    cannot separate identical sign patterns, so the star path is the
    ONLY route — every member must pair with the min-id representative
    at cosine 1.0, and no pair may be quadratic-expanded (exactly n-1
    star edges, not n·(n-1)/2)."""
    import os
    import tempfile

    vec = [float((i % 7) - 3) / 4.0 for i in range(64)]
    emb = spark.createDataFrame(
        [(i, vec, 0) for i in range(600)],
        "vec_id long, embedding array<float>, label int",
    )
    tmp = tempfile.mkdtemp()
    emb.write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    out = registry.QUERIES["f13_embedding_neardup"](spark, tmp).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert pairs == {(0, m) for m in range(1, 600)}, (
        f"{len(pairs)} pairs; sample={sorted(pairs)[:5]}"
    )
    assert all(abs(r.cosine - 1.0) < 1e-9 for r in out)


def test_seed_hash_portable_on_extreme_ids(spark):
    """The f21/f28 seed quantizer's hash (llm._seed_hash_col /
    _seed_hash_sql) must be bit-identical across engines for ANY
    BIGINT vec_id — including negatives and values near the int64
    bounds, where a naive multiplicative hash overflows (Spark wraps
    silently under ansi=false, DuckDB raises). The pre-reduction
    modulo keeps every intermediate under 2^62."""
    import duckdb

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _seed_hash_col, _seed_hash_sql,
    )

    ids = [0, 1, -1, 42, -42, 2**31, -(2**31), 2**62, -(2**62),
           2**63 - 1, -(2**63)]
    sdf = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    got_spark = {
        r.vec_id: r.h
        for r in sdf.select("vec_id",
                            _seed_hash_col(F.col("vec_id")).alias("h"))
        .collect()
    }
    import pandas as pd

    con = duckdb.connect()
    # register a frame rather than literals: DuckDB parses
    # -9223372036854775808::BIGINT as cast-before-negate and overflows
    con.register("ids_df", pd.DataFrame({"vec_id": pd.array(
        ids, dtype="int64")}))
    got_duck = dict(con.sql(
        f"SELECT vec_id, {_seed_hash_sql('vec_id')} AS h FROM ids_df"
    ).fetchall())
    assert got_spark == got_duck
    assert all(0 <= h < 2**31 for h in got_spark.values())


def test_lsh_scale_mode_widens_planes_with_recall_gate(spark, tmp_path):
    """lsh_ann_topk's width argument widens the signature from the same
    seeded prefix — on a corpus with PLANTED near neighbors (the
    workload an ANN index exists for), the widened mode must keep
    recall ≥ 0.9 while probing strictly fewer candidates than the
    4-plane contract; the plane prefix is stable (plane i identical at
    every count) so the default path is untouched."""
    import os

    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        LSH_PLANES,
        _planes,
        lsh_ann_topk,
        lsh_planes_for,
    )

    # prefix stability: the oracle's 4 planes ARE the first 4
    assert _planes("lsh", 4) == LSH_PLANES[:4]
    assert _planes("lsh", 6)[:4] == _planes("lsh", 4)

    n_rows, n_q, n_planted = 4000, 20, 8
    base = spark.range(n_rows).select(
        F.col("id").alias("vec_id"), F.lit("x").alias("label"),
        F.array(*[
            (F.xxhash64(F.col("id") * 64 + F.lit(d)) % 1_000_001)
            .cast("double") / 500_000.0 for d in range(64)
        ]).alias("embedding"),
    )
    planted = spark.range(n_q * n_planted).select(
        (F.lit(n_rows) + F.col("id")).alias("vec_id"),
        F.lit("x").alias("label"),
        F.array(*[
            (F.xxhash64((F.col("id") % n_q) * 64 + F.lit(d))
             % 1_000_001).cast("double") / 500_000.0
            + (F.pmod(F.xxhash64(F.col("id") * 64 + F.lit(d) + 7_777_777),
                      F.lit(41))).cast("double") / 1000.0 - 0.02
            for d in range(64)
        ]).alias("embedding"),
    )
    sf = str(tmp_path)
    base.unionByName(planted).write.parquet(
        os.path.join(sf, "embeddings.parquet"))
    truth = {q: {n_rows + i for i in range(n_q * n_planted)
                 if i % n_q == q} for q in range(n_q)}

    def recall_of(rows):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(by_q.get(q, set()) & truth[q]) / 5.0
            for q in range(n_q)) / n_q

    got = lsh_ann_topk(spark, sf, 6)
    assert [f.name for f in got.schema.fields] == \
        ["query_id", "neighbor_id", "cosine", "rk"]
    assert recall_of(got.collect()) >= 0.9

    default_rows = registry.QUERIES["f3_lsh_ann"](spark, sf).collect()
    assert recall_of(default_rows) >= 0.9  # planted dups: both modes find them

    # the rule floors at the oracle contract and widens logarithmically
    assert lsh_planes_for(4000) == 4
    assert lsh_planes_for(3_160_000) in (10, 11)
    assert lsh_planes_for(10**12) == 16  # capped at the ANN width cap

    with pytest.raises(ValueError, match="outside"):
        lsh_ann_topk(spark, sf, 99)


def test_f3_wide_key_equals_width_argument(spark):
    """f3_lsh_ann_wide (pinned 8 planes, oracle-checked) must be
    row-identical to lsh_ann_topk at the same width, and f3_lsh_ann to
    it at 4 — one machinery, every entry point."""
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        f3_lsh_ann,
        f3_lsh_ann_wide,
        lsh_ann_topk,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(f3_lsh_ann_wide(spark, SF_DIR)) == \
        rows(lsh_ann_topk(spark, SF_DIR, 8))
    assert rows(f3_lsh_ann(spark, SF_DIR)) == \
        rows(lsh_ann_topk(spark, SF_DIR, 4))


def test_lsh_width_past_the_cap_is_refused(spark, tmp_path):
    """A width past the 16-plane ANN cap is refused by the query and by
    the layout build with the same error — the query used to slice the
    plane list to 16 planes while probing 17 bit flips, and returned
    rows."""
    from nyc_taxi_data_engineering_project_spark.catalog import (
        build_workload_layout,
    )
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        lsh_ann_topk,
    )

    msg = r"lsh_planes=17 outside \[4, 16\]"
    with pytest.raises(ValueError, match=msg):
        lsh_ann_topk(spark, SF_DIR, 17).collect()
    with pytest.raises(ValueError, match=msg):
        build_workload_layout(spark, SF_DIR, str(tmp_path / "lay"),
                              tables=("embeddings",), lsh_planes=17)


def test_f34_count_min_one_sided_error_and_no_false_negatives(spark):
    """r11: the count-min contract — cm_count NEVER under-estimates
    (min over 4 rows each >= the true count), and therefore every
    token whose TRUE frequency clears the 0.5% threshold is reported
    (no false negatives; false positives are the sketch's documented
    one-sided trade)."""
    from nyc_taxi_data_engineering_project_spark.catalog import table
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _tokens,
        f34_heavy_hitters,
    )

    got = {r.token: r.cm_count
           for r in f34_heavy_hitters(spark, SF_DIR).collect()}
    assert got, "corpus produced no heavy hitters"

    toks = (
        table(spark, SF_DIR, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(_tokens()).alias("token"))
        .filter(F.length("token") > 0)
    )
    true = {r.token: r.n for r in
            toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    total = sum(true.values())

    for tok, est in got.items():
        assert est >= true[tok], (tok, est, true[tok])
    truly_heavy = {t for t, n in true.items() if n * 200 > total}
    missed = truly_heavy - set(got)
    assert not missed, f"CM under-estimated a heavy token: {missed}"


def test_f35_bloom_never_misses_what_f30_catches(spark):
    """r11: the Bloom membership contract — bloom-hit grams are a
    SUPERSET of exact-membership grams (false positives allowed, false
    negatives impossible), so per doc n_bloom_hit >= f30's exact n_hit
    and every f30-contaminated doc is f35-contaminated."""
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        f30_ngram_decontaminate,
        f35_bloom_decontaminate,
    )

    exact = {r.doc_id: (r.n_hit, r.contaminated)
             for r in f30_ngram_decontaminate(spark, SF_DIR).collect()}
    bloom = {r.doc_id: (r.n_bloom_hit, r.contaminated)
             for r in f35_bloom_decontaminate(spark, SF_DIR).collect()}
    assert set(exact) == set(bloom)
    assert any(c for _, c in exact.values()), "no contaminated docs"
    for d, (n_hit, contaminated) in exact.items():
        n_bloom, bloom_c = bloom[d]
        assert n_bloom >= n_hit, (d, n_bloom, n_hit)
        if contaminated:
            assert bloom_c, f"bloom missed contaminated doc {d}"


def test_cm_grid_store_then_estimate_matches_f34(spark, tmp_path):
    """r12 (r11 verdict ask 3): the productized deployment —
    build_cm_grid persists the grid once, cm_estimate probes it later —
    returns EXACTLY f34's in-query estimate for every corpus-vocabulary
    token (same geometry, same one-md5 bucketing, same integer MIN),
    estimates an unseen token at its true 0 via the complete-cell path,
    and refuses a grid stored under a different geometry."""
    import json
    import os

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _cm_bucketed,
        _cm_grid_of,
        _cm_token_stream,
        build_cm_grid,
        cm_estimate,
        cm_estimate_against,
    )

    grid_dir = str(tmp_path / "cm")
    manifest = build_cm_grid(spark, SF_DIR, grid_dir)
    assert manifest["d"] == 4 and manifest["w"] == 4096

    toks = _cm_token_stream(spark, SF_DIR)
    assert manifest["total"] == toks.count()

    # in-query estimate (f34's internal path, pre-threshold)
    inq = {r.token: r.cm_count for r in cm_estimate_against(
        _cm_bucketed(toks.distinct()), _cm_grid_of(toks)).collect()}
    # stored-grid estimate for the same vocabulary
    stored = {r.token: r.cm_count for r in cm_estimate(
        spark, grid_dir, toks.distinct()).collect()}
    assert stored == inq

    # unseen tokens: list input, complete-cell semantics (true 0 unless
    # it collides on ALL d rows — accept the documented one-sided case)
    unseen = "graft-never-in-corpus-xyzzy"
    got = {r.token: r.cm_count for r in cm_estimate(
        spark, grid_dir, [unseen]).collect()}
    assert set(got) == {unseen} and got[unseen] >= 0

    # geometry drift refuses loudly
    mpath = os.path.join(grid_dir, "manifest.json")
    m = json.load(open(mpath))
    m["w"] = 1024
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="geometry"):
        cm_estimate(spark, grid_dir, [unseen])


def test_bloom_build_then_probe_matches_f35(spark, tmp_path):
    """r12 (self-initiated, the build_cm_grid playbook on the
    membership sketch): build_bloom_filter persists the eval-gram
    position set once, bloom_probe tags grams in a later pass — and
    the per-doc rollup of probed hits equals f35's in-query
    n_bloom_hit/contaminated exactly (same geometry, same
    nibble-range positions). A filter stored under a different
    geometry refuses loudly."""
    import json
    import os

    from nyc_taxi_data_engineering_project_spark.catalog import table
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        bloom_probe,
        build_bloom_filter,
        f35_bloom_decontaminate,
        gram_hashes,
    )

    grams = gram_hashes(table(spark, SF_DIR, "documents"))
    bdir = str(tmp_path / "bloom")
    manifest = build_bloom_filter(
        spark, grams.filter(F.col("doc_id") % 89 == 0), bdir)
    assert manifest["k"] == 3 and manifest["m"] == 65536
    assert 0 < manifest["n_positions"] <= 65536

    probed = bloom_probe(spark, bdir, grams)
    got = {
        r.doc_id: (r.n_grams, r.n_bloom_hit)
        for r in probed.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
            .alias("n_bloom_hit")).collect()
    }
    want = {r.doc_id: (r.n_grams, r.n_bloom_hit)
            for r in f35_bloom_decontaminate(spark, SF_DIR).collect()}
    assert got == want

    mpath = os.path.join(bdir, "manifest.json")
    m = json.load(open(mpath))
    m["k"] = 5
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="geometry"):
        bloom_probe(spark, bdir, grams)


def test_cm_grids_merge_exactly(spark, tmp_path):
    """r12: the grid is a LINEAR sketch — shard-built grids summed
    cell-wise equal the whole-corpus grid exactly, so a sharded 100 TB
    build introduces no approximation beyond the sketch itself. Also
    pins: estimates off the merged grid == estimates off the
    whole-corpus grid, and mixed-geometry merges refuse."""
    import json
    import os

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        build_cm_grid,
        cm_estimate,
        merge_cm_grids,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dirs = []
    for i, pred in enumerate([F.col("doc_id") % 2 == 0,
                              F.col("doc_id") % 2 == 1]):
        d = str(tmp_path / f"shard{i}")
        os.makedirs(d)
        docs.filter(pred).coalesce(1).write.parquet(
            f"{d}/documents.parquet")
        dirs.append(d)

    g0, g1, gfull, gmerged = (str(tmp_path / n) for n in
                              ("g0", "g1", "gfull", "gmerged"))
    build_cm_grid(spark, dirs[0], g0)
    build_cm_grid(spark, dirs[1], g1)
    mfull = build_cm_grid(spark, SF_DIR, gfull)
    mm = merge_cm_grids(spark, [g0, g1], gmerged)
    assert mm["total"] == mfull["total"]

    cells = lambda p: {  # noqa: E731
        (r.i, r.bucket): r.c
        for r in spark.read.parquet(f"{p}/grid.parquet").collect()}
    assert cells(gmerged) == cells(gfull)

    probe = ["the", "graft-never-in-corpus-xyzzy"]
    est = lambda p: {r.token: r.cm_count  # noqa: E731
                     for r in cm_estimate(spark, p, probe).collect()}
    assert est(gmerged) == est(gfull)

    mpath = os.path.join(g1, "manifest.json")
    m = json.load(open(mpath))
    m["d"] = 8
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="geometry"):
        merge_cm_grids(spark, [g0, g1], str(tmp_path / "bad"))


def test_bloom_probe_duplicate_rows_and_reserved_columns(spark, tmp_path):
    """r12 review: duplicate input rows must never flip a membership
    verdict (hits count DISTINCT positions, so a gram IN the filter
    hits even when its row appears twice — the one-sided guarantee),
    and inputs carrying the probe's internal column names refuse."""
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        bloom_probe,
        build_bloom_filter,
    )

    gh = spark.sql("SELECT md5('planted gram') AS gh")
    bdir = str(tmp_path / "bloom")
    build_bloom_filter(spark, gh, bdir)

    dup = gh.unionByName(gh).unionByName(
        spark.sql("SELECT md5('absent gram') AS gh"))
    got = {r.gh: r.bloom_hit for r in bloom_probe(spark, bdir, dup).collect()}
    planted = spark.sql("SELECT md5('planted gram') AS v").collect()[0].v
    absent = spark.sql("SELECT md5('absent gram') AS v").collect()[0].v
    assert got[planted] is True          # despite the duplicate rows
    assert len(got) == 2                 # duplicates collapse to one row
    assert got[absent] in (True, False)  # absent may false-positive only

    with pytest.raises(ValueError, match="reserved"):
        bloom_probe(spark, bdir, gh.withColumn("pos", F.lit(1)))


def test_stream_cm_grid_exactly_once(spark, tmp_path):
    """r12: streaming grid maintenance — three file-chunks drained
    one-per-trigger fold into the stored grid, which must equal the
    batch-built grid of the full corpus CELL-FOR-CELL (linearity), and
    a REPLAYED epoch (the foreachBatch crash-recovery case) must be a
    no-op because the replay guard swaps atomically with the cells."""
    import os

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        build_cm_grid,
        cm_estimate,
        cm_update_writer,
        stream_cm_grid,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    chunks = str(tmp_path / "chunks")
    for i in range(3):
        (docs.filter(F.col("doc_id") % 3 == i).coalesce(1)
         .write.mode("append").parquet(chunks))

    gdir = str(tmp_path / "stream_grid")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(chunks))
    stream_cm_grid(stream, gdir, str(tmp_path / "ckpt"))

    gfull = str(tmp_path / "batch_grid")
    mfull = build_cm_grid(spark, SF_DIR, gfull)

    cells = lambda p: {  # noqa: E731
        (r.i, r.bucket): r.c
        for r in spark.read.parquet(f"{p}/grid.parquet").collect()}
    assert cells(gdir) == cells(gfull)

    # mirrored manifest serves cm_estimate; total fell out of the cells
    import json
    mirror = json.load(open(os.path.join(gdir, "manifest.json")))
    assert mirror["total"] == mfull["total"]
    probe = cm_estimate(spark, gdir, ["the"]).collect()
    want = cm_estimate(spark, gfull, ["the"]).collect()
    assert [tuple(r) for r in probe] == [tuple(r) for r in want]

    # replay guard: re-running the LAST epoch (crash between sink write
    # and checkpoint commit) changes nothing — batch_id <= last FROM THE
    # SAME STREAM is a no-op, and the guard travels inside the grid dir
    # atomically (r13: the guard is keyed on (stream_id, batch_id) — the
    # production stream_id is the checkpoint's abspath)
    before = cells(gdir)
    last = mirror["last_batch_id"]
    ckpt_id = os.path.abspath(str(tmp_path / "ckpt"))
    cm_update_writer(gdir, stream_id=ckpt_id)(docs.limit(50), last)
    assert cells(gdir) == before
    # a DIFFERENT stream identity presenting a non-monotonic batch_id
    # refuses (fresh-checkpoint restart would silently drop new data)
    with pytest.raises(ValueError, match="checkpoint"):
        cm_update_writer(gdir)(docs.limit(50), last)
    assert cells(gdir) == before
    # a genuinely NEW epoch from the same stream does fold in
    cm_update_writer(gdir, stream_id=ckpt_id)(docs.limit(50), last + 1)
    assert sum(cells(gdir).values()) > sum(before.values())


def test_sketch_swap_crash_recovery(spark, tmp_path):
    """r13 (r12 ADVICE, medium): _write_sketch_parquet's swap is two
    renames — a crash between them leaves NO grid at grid_path. The
    WRITER must heal the stranded swap instead of treating the grid
    as absent, which would silently discard the accumulated stream
    history (restart would write a batch-only grid); a READER must
    refuse loudly rather than heal — a reader that renamed
    directories would race a LIVE writer mid-swap (r13 review).
    Roll-back (old present, tmp incomplete) and roll-forward (tmp
    complete with its _manifest.json) are both pinned."""
    import os
    import shutil

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        build_cm_grid,
        cm_estimate,
        cm_update_writer,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    gdir = str(tmp_path / "g")
    build_cm_grid(spark, SF_DIR, gdir)
    grid = os.path.join(gdir, "grid.parquet")
    cells = lambda: {  # noqa: E731
        (r.i, r.bucket): r.c
        for r in spark.read.parquet(grid).collect()}
    base = cells()

    # ROLL-BACK: crash after rename(grid -> old) with an INCOMPLETE tmp
    # (no _manifest.json — the parquet write itself died). A READER
    # refuses with the recovery named (it must never mutate the store);
    # the next WRITER call restores the pre-swap cells and folds its
    # batch in.
    os.rename(grid, grid + ".old")
    os.makedirs(grid + ".tmp")
    with pytest.raises(ValueError, match="stranded swap"):
        cm_estimate(spark, gdir, ["the"])
    assert os.path.exists(grid + ".old")  # reader mutated nothing
    cm_update_writer(gdir, stream_id="ck")(docs.limit(10), 0)
    healed = cells()
    assert sum(healed.values()) > sum(base.values())  # base + batch
    assert not os.path.exists(grid + ".old")
    assert not os.path.exists(grid + ".tmp")
    got = {r.token: r.cm_count
           for r in cm_estimate(spark, gdir, ["the"]).collect()}
    assert got["the"] >= 1

    # ROLL-FORWARD: batch 1's tmp completed (cells + inner manifest with
    # last_batch_id=1) but the crash hit before rename(tmp -> grid),
    # with batch 0's cells stranded at .old. The writer must adopt the
    # COMPLETE tmp — its guard already records batch 1 — so the replayed
    # epoch is the designed no-op, not a re-merge or a batch-only grid.
    w = cm_update_writer(gdir, stream_id="ck")
    w(docs.limit(50), 1)
    s0 = str(tmp_path / "s0")
    shutil.copytree(grid, s0)
    w(docs.limit(30), 2)
    after1 = cells()
    os.rename(grid, grid + ".tmp")
    shutil.copytree(s0, grid + ".old")
    w(docs.limit(30), 2)  # the replay that follows the crash
    assert cells() == after1
    assert not os.path.exists(grid + ".old")
    assert not os.path.exists(grid + ".tmp")


def test_sketch_swap_failure_restores_previous_cells(
        spark, tmp_path, monkeypatch):
    """A write whose tmp → target rename fails restores the previous
    cells: readers keep serving them, no parked .old tree is left
    behind, and the next write succeeds."""
    import os

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        build_cm_grid,
        cm_estimate,
        cm_update_writer,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    gdir = str(tmp_path / "g")
    build_cm_grid(spark, SF_DIR, gdir)
    grid = os.path.join(gdir, "grid.parquet")
    est = lambda: {r.token: r.cm_count  # noqa: E731
                   for r in cm_estimate(spark, gdir, ["the"]).collect()}
    before = est()

    real_rename = os.rename

    def _boom(src, dst):
        if src == grid + ".tmp" and dst == grid:
            raise OSError("synthetic rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", _boom)
    with pytest.raises(OSError, match="synthetic rename failure"):
        cm_update_writer(gdir, stream_id="ck")(docs.limit(10), 0)
    monkeypatch.setattr(os, "rename", real_rename)

    assert not os.path.exists(grid + ".old")
    assert est() == before
    cm_update_writer(gdir, stream_id="ck")(docs.limit(10), 0)
    assert est()["the"] > before["the"]


def test_stream_onto_batch_built_grid_folds(spark, tmp_path):
    """r13 (r12 ADVICE): streaming onto a path populated by
    build_cm_grid must FOLD the stored counts in — the builder's inner
    manifest (last_batch_id=-1) marks them adoptable — never silently
    replace them; and a stored grid WITHOUT the inner manifest (pre-r13
    build / foreign data) refuses loudly instead of discarding."""
    import os

    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        build_cm_grid,
        cm_update_writer,
        stream_cm_grid,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    even_dir = str(tmp_path / "even")
    os.makedirs(even_dir)
    (docs.filter(F.col("doc_id") % 2 == 0).coalesce(1)
     .write.parquet(f"{even_dir}/documents.parquet"))

    gdir = str(tmp_path / "grid")
    build_cm_grid(spark, even_dir, gdir)

    chunks = str(tmp_path / "chunks")
    (docs.filter(F.col("doc_id") % 2 == 1).coalesce(1)
     .write.parquet(chunks))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(chunks))
    stream_cm_grid(stream, gdir, str(tmp_path / "ckpt"))

    gfull = str(tmp_path / "gfull")
    build_cm_grid(spark, SF_DIR, gfull)
    cells = lambda p: {  # noqa: E731
        (r.i, r.bucket): r.c
        for r in spark.read.parquet(f"{p}/grid.parquet").collect()}
    assert cells(gdir) == cells(gfull)

    # manifestless stored grid: refuse, don't replace
    os.remove(os.path.join(gdir, "grid.parquet", "_manifest.json"))
    with pytest.raises(ValueError, match="_manifest"):
        cm_update_writer(gdir, stream_id="x")(docs.limit(5), 99)


def test_bloom_filters_merge_exactly(spark, tmp_path):
    """r13 (verdict ask 4, lifecycle symmetry): Bloom filters are
    OR-linear — shard-built filters merged as the distinct union of
    their position sets equal the whole-set build EXACTLY (position
    for position, manifest count included), and mixed-geometry merges
    refuse. Probes off the merged filter match probes off the full
    build for every gram."""
    import json
    import os

    from nyc_taxi_data_engineering_project_spark.catalog import table
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        bloom_probe,
        build_bloom_filter,
        gram_hashes,
        merge_bloom_filters,
    )

    grams = gram_hashes(table(spark, SF_DIR, "documents"))
    eval_grams = grams.filter(F.col("doc_id") % 89 == 0)

    b0, b1, bfull, bm = (str(tmp_path / n) for n in
                         ("b0", "b1", "bfull", "bm"))
    build_bloom_filter(
        spark, eval_grams.filter(F.col("doc_id") % 2 == 0), b0)
    build_bloom_filter(
        spark, eval_grams.filter(F.col("doc_id") % 2 == 1), b1)
    mfull = build_bloom_filter(spark, eval_grams, bfull)
    mm = merge_bloom_filters(spark, [b0, b1], bm)
    assert mm["n_positions"] == mfull["n_positions"]

    bits = lambda p: {  # noqa: E731
        r.pos for r in spark.read.parquet(f"{p}/bits.parquet").collect()}
    assert bits(bm) == bits(bfull)

    probe = lambda p: {  # noqa: E731
        r.gh: r.bloom_hit
        for r in bloom_probe(spark, p, grams.select("gh")).collect()}
    assert probe(bm) == probe(bfull)

    mpath = os.path.join(b1, "manifest.json")
    m = json.load(open(mpath))
    m["m"] = 1024
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="geometry"):
        merge_bloom_filters(spark, [b0, b1], str(tmp_path / "bad"))


def test_stream_bloom_filter_exactly_once(spark, tmp_path):
    """r13 (verdict ask 4): streaming Bloom maintenance — file-chunks
    drained one-per-trigger OR into the stored position set, which
    must equal the batch-built filter of the full corpus POSITION FOR
    POSITION; a same-stream replayed epoch no-ops; a foreign stream
    presenting a non-monotonic batch_id refuses (the fresh-checkpoint
    drop hazard); a batch-built filter is adopted by folding."""
    import json
    import os

    from nyc_taxi_data_engineering_project_spark.catalog import table
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        bloom_update_writer,
        build_bloom_filter,
        gram_hashes,
        stream_bloom_filter,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    chunks = str(tmp_path / "chunks")
    for i in range(3):
        (docs.filter(F.col("doc_id") % 3 == i).coalesce(1)
         .write.mode("append").parquet(chunks))

    bdir = str(tmp_path / "stream_bloom")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(chunks))
    stream_bloom_filter(stream, bdir, str(tmp_path / "ckpt"))

    bfull = str(tmp_path / "batch_bloom")
    mfull = build_bloom_filter(
        spark, gram_hashes(table(spark, SF_DIR, "documents")), bfull)

    bits = lambda p: {  # noqa: E731
        r.pos for r in spark.read.parquet(f"{p}/bits.parquet").collect()}
    assert bits(bdir) == bits(bfull)

    mirror = json.load(open(os.path.join(bdir, "manifest.json")))
    assert mirror["n_positions"] == mfull["n_positions"]
    last = mirror["last_batch_id"]
    ckpt_id = os.path.abspath(str(tmp_path / "ckpt"))

    before = bits(bdir)
    bloom_update_writer(bdir, stream_id=ckpt_id)(docs.limit(50), last)
    assert bits(bdir) == before  # same-stream replay: no-op
    with pytest.raises(ValueError, match="checkpoint"):
        bloom_update_writer(bdir, stream_id="other")(docs.limit(50), last)
    assert bits(bdir) == before


def test_f36_semdedup_invariants(spark):
    """r14: the semantic-dedup prune's contract, independent of the
    DuckDB twin — (a) exactly one prototype (the bucket's min vec_id)
    survives per cluster with centrality 1.0, (b) survivors are a
    subset of the usable population and every non-prototype survivor
    sits strictly under the 0.3 threshold, (c) pruning is monotone:
    dropped = population - survivors, all with centrality >= 0.3."""
    out = registry.QUERIES["f36_semdedup"](spark, SF_DIR)
    rows = out.collect()
    assert rows, "f36 must keep at least the prototypes"
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    pop = llm._embeddings(spark, SF_DIR).count()
    assert len(rows) <= pop
    for bucket, members in by_bucket.items():
        protos = [r for r in members if r.centrality == 1.0]
        # the min-id member IS the prototype and always survives
        assert min(r.vec_id for r in members) == min(
            r.vec_id for r in protos
        ), f"bucket {bucket}: min-id survivor is not a prototype"
        for r in members:
            assert r.centrality == 1.0 or r.centrality < 0.3, (
                f"bucket {bucket}: survivor {r.vec_id} at "
                f"{r.centrality} violates the keep rule"
            )


def test_f36_plane_prefix_stable_and_guarded():
    """f36's quantizer planes carry f13's prefix-stability contract —
    plane i identical at every count, hard refusal past the
    inlined-oracle envelope — and come from an INDEPENDENT seed (the
    two operators' cluster geometries must not be coupled)."""
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _MAX_PLANES,
        _planes,
    )

    assert _planes("f36", 2) == _planes("f36", _MAX_PLANES)[:2]
    assert _planes("f36", 16) == _planes("f36", 40)[:16]
    assert _planes("f36", 1)[0] != _planes("lsh", 1)[0]
    with pytest.raises(ValueError, match="_MAX_PLANES"):
        _planes("f36", _MAX_PLANES + 1)

"""Round-4 curation tier: duplicated-ngram coverage, semantic dedup,
DSIR selection, the MinHash signature store, raw-text/XML ingestion, and
integer PageRank. Oracle parity runs through the registry sweep
(test_oracle_parity.py); these tests pin the SEMANTIC invariants and the
plan shapes the oracles can't see.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_cdc_spark.operators.curation import (
    _SEM_TAU,
    ext_dsir_select,
    ext_ngram_dup_coverage,
    ext_semantic_dedup,
    maintenance_signature_store,
)
from mongodb_cdc_spark.operators.graphs import graph_pagerank
from mongodb_cdc_spark.operators.scans import scan_text, scan_xml
from mongodb_cdc_spark.io import load_table
from mongodb_cdc_spark.plans.explain import formatted_plan
from mongodb_cdc_spark.registry import QUERIES


def test_ngram_dup_coverage_bounds(spark, sf_dir):
    """n_dup <= n_ngrams, fraction in [0, 1e6], and only docs with >= 3
    tokens appear."""
    rows = ext_ngram_dup_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dup <= r.n_ngrams
        assert 0 <= r.dup_frac_e6 <= 1_000_000
        # round-half-up integer fraction recomputes exactly
        assert r.dup_frac_e6 == (2_000_000 * r.n_dup + r.n_ngrams) // (
            2 * r.n_ngrams
        )


def test_ngram_dup_coverage_single_pass_plan(spark, sf_dir):
    """The docfreq must come from ONE window over the exploded trigram
    table — a groupBy+self-join would scan/explode documents twice."""
    plan = formatted_plan(ext_ngram_dup_coverage(spark, sf_dir))
    # one scan node == one "Location:" detail line in formatted mode
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Window" in plan, plan


def test_semantic_dedup_keeper_rule(spark, sf_dir):
    """Every vector appears exactly once; every cluster keeps at least
    one member (the rank-1 member has no earlier-ranked window-mate);
    results are deterministic across reruns."""
    out = ext_semantic_dedup(spark, sf_dir)
    rows = out.collect()
    n_total = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_total
    assert len({r.vec_id for r in rows}) == n_total
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        assert any(r.kept for r in members), "rank-1 member must be kept"
    assert sorted(rows) == sorted(ext_semantic_dedup(spark, sf_dir).collect())


def test_semantic_dedup_broadcasts_centroids(spark, sf_dir):
    plan = formatted_plan(ext_semantic_dedup(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    # the pair join must be a real equi-join on cluster, not a cartesian
    assert "CartesianProduct" not in plan, plan


def test_dsir_select_shape_and_order(spark, sf_dir):
    rows = ext_dsir_select(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    plan = formatted_plan(ext_dsir_select(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_signature_store_is_idempotent(spark, sf_dir):
    a = maintenance_signature_store(spark, sf_dir).collect()[0]
    b = maintenance_signature_store(spark, sf_dir).collect()[0]
    assert a == b
    assert a.null_sig_cells == 0 and a.dup_doc_ids == 0


def test_scan_text_roundtrip_matches_source(spark, sf_dir):
    """Line-protocol round-trip preserves every doc (per-lang counts and
    id checksum equal the parquet source's)."""
    got = {r.lang: (r.n, r.id_sum) for r in scan_text(spark, sf_dir).collect()}
    src = {
        r.lang: (r.n, r.id_sum)
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .collect()
    }
    assert got == src


def test_scan_xml_roundtrip_matches_source(spark, sf_dir):
    got = {r.c_mktsegment: r.n for r in scan_xml(spark, sf_dir).collect()}
    src = {
        r.c_mktsegment: r.n
        for r in load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == src


def test_pagerank_integer_determinism_and_mass(spark, sf_dir):
    """Re-running yields bit-identical ranks (integer arithmetic has no
    partial-agg order sensitivity), every rank >= the damping floor, and
    ranks stay below total graph mass."""
    a = graph_pagerank(spark, sf_dir).collect()
    b = graph_pagerank(spark, sf_dir).collect()
    assert a == b
    assert a, "pruned graph should be non-empty at test SF"
    for r in a:
        assert r.rank_e6 >= 150_000
    plan = formatted_plan(graph_pagerank(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_semantic_dedup_tau_is_a_real_boundary(spark, sf_dir):
    """The threshold actually partitions pairs at this SF: some vectors
    kept, and the dropped set only shrinks when tau rises (monotonicity
    smoke via recount at a higher threshold)."""
    out = ext_semantic_dedup(spark, sf_dir)
    kept = out.filter("kept").count()
    total = out.count()
    assert 0 < kept <= total
    assert 0.0 < _SEM_TAU < 1.0


def test_store_pairs_match_from_text_pipeline(spark, sf_dir):
    """The signature-store path must produce the IDENTICAL candidate
    pair set as the from-text MinHash pipeline (same signatures -> same
    bands -> same buckets) — the property that makes the store a safe
    amortization and not an approximation."""
    from mongodb_cdc_spark.operators.curation import signature_store_path
    from mongodb_cdc_spark.operators.extensions import (
        candidate_pairs_from_signatures,
        minhash_candidate_pairs,
    )

    from_text = {
        (r.doc_a, r.doc_b) for r in minhash_candidate_pairs(spark, sf_dir).collect()
    }
    store = spark.read.parquet(signature_store_path(spark, sf_dir))
    from_store = {
        (r.doc_a, r.doc_b)
        for r in candidate_pairs_from_signatures(store).collect()
    }
    assert from_store == from_text


def test_temperature_mix_shares_sum_to_one(spark, sf_dir):
    """Shares are e6 floor-divisions, so they sum to <= 1e6 and no lower
    than 1e6 minus one ulp per source; upsampling factors straddle 1e6
    (rare sources up, dominant down) unless the mix is exactly uniform."""
    from mongodb_cdc_spark.operators.curation import ext_temperature_mix

    rows = ext_temperature_mix(spark, sf_dir).collect()
    assert rows
    total = sum(r.share_e6 for r in rows)
    assert 1_000_000 - len(rows) <= total <= 1_000_000
    ns = {r.n for r in rows}
    if len(ns) > 1:
        assert max(rows, key=lambda r: r.n).upsample_e6 <= 1_000_000
        assert min(rows, key=lambda r: r.n).upsample_e6 >= 1_000_000


def test_sql_function_inlines_no_python(spark, sf_dir):
    """The SQL-defined function must inline into the aggregate — no
    Python evaluation node anywhere in the plan."""
    from mongodb_cdc_spark.operators.udfs import udf_sql_function

    plan = formatted_plan(udf_sql_function(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_pipe_syntax_plans_like_ansi(spark, sf_dir):
    """Pipe SQL lowers to the same filter->aggregate algebra as ANSI: no
    extra exchanges beyond the one aggregation shuffle."""
    from mongodb_cdc_spark.operators.subqueries import sql_pipe_syntax

    plan = formatted_plan(sql_pipe_syntax(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan  # partial->final agg only


def test_m4_downsample_four_points_per_bucket(spark, sf_dir):
    """Every (series, bucket) emits exactly 4 kinds; ymin <= every other
    point's y in the bucket; first.d <= last.d; bucket ids within range;
    no window over the raw fact (single aggregate after the daily
    collapse)."""
    from mongodb_cdc_spark.operators.timeseries import ts_downsample_m4, _M4_BUCKETS

    rows = ts_downsample_m4(spark, sf_dir).collect()
    assert rows
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault((r.event_type, r.bkt), {})[r.kind] = r
        assert 0 <= r.bkt < _M4_BUCKETS
    for (_, _), kinds in by_bucket.items():
        assert set(kinds) == {"first", "last", "ymin", "ymax"}
        assert kinds["first"].d <= kinds["last"].d
        assert kinds["ymin"].cents <= kinds["ymax"].cents
        for k in ("first", "last"):
            assert kinds["ymin"].cents <= kinds[k].cents <= kinds["ymax"].cents
    plan = formatted_plan(ts_downsample_m4(spark, sf_dir))
    assert "Window" not in plan, plan  # struct min/max, not ROW_NUMBER


def test_asof_tolerance_is_left_total_and_bounded(spark, sf_dir):
    """Every event appears exactly once; any non-null match is at most
    the tolerance old and never in the future; nulling agrees with the
    unbounded as-of (a match exists there iff it is either here or
    older than the tolerance)."""
    from mongodb_cdc_spark.operators.joins import (
        _ASOF_TOL_S,
        join_asof_latest,
        join_asof_tolerance,
    )

    tol = {r.event_id: r for r in join_asof_tolerance(spark, sf_dir).collect()}
    ev_n = load_table(spark, sf_dir, "events").count()
    assert len(tol) == ev_n
    unbounded = {
        r.event_id: r for r in join_asof_latest(spark, sf_dir).collect()
    }
    ev_ts = {
        r.event_id: r.epoch
        for r in load_table(spark, sf_dir, "events")
        .selectExpr("event_id", "to_unix_timestamp(ts) AS epoch")
        .collect()
    }
    for eid, r in tol.items():
        if r.asof_orderkey is not None:
            assert 0 <= ev_ts[eid] - r.asof_order_epoch <= _ASOF_TOL_S
            assert unbounded[eid].asof_orderkey == r.asof_orderkey
        else:
            u = unbounded.get(eid)
            if u is not None:  # unbounded matched, we nulled: must be stale
                assert ev_ts[eid] - u.asof_order_epoch > _ASOF_TOL_S


def test_lsh_recall_certified_against_exact_truth(spark, sf_dir):
    """The recall-eval invariants hold at the test SF: the MinHash-LSH
    candidate stream catches at least the floor fraction of exact
    bigram-Jaccard >= 0.5 truth pairs — the feature-space-consistency
    regression pin for the round-4 finding (unigram MinHash vs bigram
    verifier: recall was 7/52 before the generator moved to the shared
    `bigram_shingles` space; 52/52 after)."""
    from mongodb_cdc_spark.operators.curation import ext_dedup_recall_eval

    row = ext_dedup_recall_eval(spark, sf_dir).collect()[0]
    assert row.caught_le_truth
    assert row.recall_ge_floor


def test_verify_stage_invariants(spark, sf_dir):
    """All three verification-stage certificates hold at the test SF."""
    from mongodb_cdc_spark.operators.curation import ext_dedup_verify_jaccard

    row = ext_dedup_verify_jaccard(spark, sf_dir).collect()[0]
    assert row.verified_subset_of_candidates
    assert row.verified_ge_exact_truth_floor
    assert row.jaccard_bounds_ok


def test_bigram_shingles_edge_cases(spark, sf_dir):
    """The one shared shingle builder: empty/one-token inputs yield an
    EMPTY array (never a descending-sequence artifact), order is
    positional, duplicates are collapsed."""
    from mongodb_cdc_spark.functions.text import bigram_shingles, tokens

    df = spark.createDataFrame(
        [("",), ("solo",), ("a b c",), ("x y x y",), ("  spaced   out  ",)],
        "text string",
    ).select(tokens("text").alias("toks"))
    rows = df.select(bigram_shingles("toks").alias("s")).collect()
    assert rows[0].s == []          # empty text
    assert rows[1].s == []          # single token: no bigram
    assert rows[2].s == ["a b", "b c"]
    assert rows[3].s == ["x y", "y x"]  # distinct collapses the repeat
    assert rows[4].s == ["spaced out"]  # tokenizer strips empties


def test_semantic_window_recall_is_exact_and_consistent(spark, sf_dir):
    """The recall measurement agrees with the dedup operator's own
    behavior: every truth pair within the window (numerator) implies the
    higher vec_id was droppable, so dropped-count >= n_caught cannot be
    asserted directly (drops also come from other clusters), but the
    measured recall must be a valid e6 fraction and deterministic."""
    from mongodb_cdc_spark.operators.curation import ext_semantic_window_recall

    a = ext_semantic_window_recall(spark, sf_dir).collect()[0]
    b = ext_semantic_window_recall(spark, sf_dir).collect()[0]
    assert a == b
    assert 0 <= a.n_caught <= a.n_truth
    assert 0 <= a.recall_e6 <= 1_000_000


def test_token_budget_fill_matches_naive_prefix(spark, sf_dir):
    """The two-pass bucket selection must equal the naive global-window
    prefix exactly (same order key, same budget arithmetic)."""
    from pyspark.sql.window import Window

    from mongodb_cdc_spark.functions.text import tokens
    from mongodb_cdc_spark.operators.curation import ext_token_budget_fill

    got = {
        (r["doc_id"], r["tok_cnt"], r["quality_e6"])
        for r in ext_token_budget_fill(spark, sf_dir).collect()
    }
    scored = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("tok_cnt"),
            F.size(F.array_distinct("toks")).cast("bigint").alias("uniq"),
        )
        .filter(F.col("tok_cnt") >= 1)
        .select(
            "doc_id", "tok_cnt",
            F.expr("uniq * 1000000 div tok_cnt").alias("quality_e6"),
        )
    )
    budget = scored.agg(F.sum("tok_cnt")).collect()[0][0] // 10
    w = Window.orderBy(
        F.col("quality_e6").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r["doc_id"], r["tok_cnt"], r["quality_e6"])
        for r in scored.withColumn("cum", F.sum("tok_cnt").over(w))
        .filter(F.col("cum") <= budget)
        .collect()
    }
    assert got == want and len(got) > 0
    # budget actually binds: the selection is a strict subset
    assert len(got) < scored.count()


def test_token_budget_fill_full_arm_is_windowless(spark, sf_dir):
    """The fully-included-buckets arm must reach the output through a
    plain filter — the whole point of the two-pass design is that only
    the ~1/1000 crossing-bucket slice pays a single-partition window."""
    from mongodb_cdc_spark.operators.curation import ext_token_budget_fill

    import re

    plan = formatted_plan(ext_token_budget_fill(spark, sf_dir))
    # exactly one Window NODE (the crossing-bucket arm), never two —
    # node headers in formatted explain read "(n) Window"
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_source_cap_semantics_and_plan(spark, sf_dir):
    """Cap semantics: no (source, lang) cell exceeds the cap; under-cap
    cells are kept in full and flagged False; the kept subset within an
    over-cap cell is the hash-order prefix. Plan: the under-cap arm is
    windowless — exactly one Window node total, with a WindowGroupLimit
    partial pass."""
    import re

    from mongodb_cdc_spark.operators.curation import (
        _CAP_DIVISOR,
        _CAP_SEED,
        ext_source_cap,
    )

    d = load_table(spark, sf_dir, "documents")
    total = d.count()
    cap = max(1, total // _CAP_DIVISOR)
    cells = {
        (r["source"], r["lang"]): r["n"]
        for r in d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = ext_source_cap(spark, sf_dir)
    rows = out.collect()
    kept: dict[tuple, list] = {}
    for r in rows:
        kept.setdefault((r["source"], r["lang"]), []).append(r)
    assert set(kept) == set(cells)  # every cell contributes
    for cell, rs in kept.items():
        n_cell = cells[cell]
        assert len(rs) == min(cap, n_cell)
        assert all(r["was_capped"] == (n_cell > cap) for r in rs)
    # over-cap keepers are the md5-order prefix (naive recomputation)
    import hashlib

    over = [c for c, n in cells.items() if n > cap]
    if over:
        cell = over[0]
        ids = [
            r["doc_id"]
            for r in d.filter(
                (F.col("source") == cell[0]) & (F.col("lang") == cell[1])
            ).collect()
        ]
        want = sorted(
            ids,
            key=lambda i: (
                hashlib.md5(f"{i}{_CAP_SEED}".encode()).hexdigest(),
                i,
            ),
        )[:cap]
        assert sorted(r["doc_id"] for r in kept[cell]) == sorted(want)
    # fresh frame: explaining the collected one would print the AQE
    # final AND initial plans, double-counting the Window node
    plan = formatted_plan(ext_source_cap(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "WindowGroupLimit" in plan


def test_embed_knn_eval_matches_numpy_loo(spark, sf_dir):
    """The integer-encoded majority vote and precision@10 must match a
    straightforward numpy leave-one-out recomputation."""
    import numpy as np

    from mongodb_cdc_spark.operators.quality import (
        _KNNE_K,
        _KNNE_MAX,
        _KNNE_STEP,
        ext_embed_knn_eval,
    )

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    got = {
        r["probe_id"]: r for r in ext_embed_knn_eval(spark, sf_dir).collect()
    }
    probe_ix = np.where((ids % _KNNE_STEP == 0) & (ids < _KNNE_MAX))[0]
    assert len(got) == len(probe_ix) > 0
    for pi in probe_ix:
        cos = M @ M[pi]
        order = sorted(
            (i for i in range(len(ids)) if i != pi),
            key=lambda i: (-cos[i], ids[i]),
        )[:_KNNE_K]
        nl = labels[order]
        hits = int((nl == labels[pi]).sum())
        votes: dict[int, int] = {}
        for x in nl:
            votes[int(x)] = votes.get(int(x), 0) + 1
        pred = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        g = got[int(ids[pi])]
        assert g["hits"] == hits
        assert g["pred_label"] == pred
        assert g["knn_correct"] == (pred == labels[pi])


def test_embed_knn_eval_plan_has_group_limit(spark, sf_dir):
    """The per-probe rank<=k filter must plan the WindowGroupLimit
    partial pass (shuffle carries O(probes x k x partitions), not
    corpus x probes) and the probe side must broadcast."""
    from mongodb_cdc_spark.operators.quality import ext_embed_knn_eval

    plan = formatted_plan(ext_embed_knn_eval(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_exact_dup_map_store_matches_from_text(spark, sf_dir):
    """The persisted exact-dup star-edge map must equal
    exact_dup_pairs(documents) row for row — the parity that lets the
    from-store clustering read NO text for the exact tier."""
    from mongodb_cdc_spark.operators.curation import exact_dup_map_store_path
    from mongodb_cdc_spark.operators.extensions import exact_dup_pairs
    from mongodb_cdc_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    from_text = {
        (r["doc_a"], r["doc_b"]) for r in exact_dup_pairs(d).collect()
    }
    stored = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(
            exact_dup_map_store_path(spark, sf_dir)
        ).collect()
    }
    assert from_text == stored
    assert all(a < b for a, b in stored)  # keeper is always the min id


def test_stream_dedup_minhash_gate_semantics(spark, sf_dir):
    """The streaming gate's verdicts must agree with batch recomputation:
    every exact-dup flag matches an md5 semi-join of wave vs base, every
    near-dup flag is backed by an exact bigram-Jaccard >= 0.50 partner
    among the base reps (brute-forced here), and every wave doc appears
    exactly once (exactly-once sink contract across micro-batches)."""
    rows = QUERIES["stream_dedup_minhash"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0]
    wave = {r.doc_id for r in d.filter(F.col("doc_id") > cut).collect()}
    assert {r.doc_id for r in rows} == wave
    assert len(rows) == len(wave)
    base_md5 = {
        r[0]
        for r in d.filter(F.col("doc_id") <= cut)
        .select(F.md5("text"))
        .distinct()
        .collect()
    }
    wave_md5 = {
        r.doc_id: r.h
        for r in d.filter(F.col("doc_id") > cut)
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    }
    for r in rows:
        assert r.is_exact_dup == (wave_md5[r.doc_id] in base_md5), r
    # exact dups whose text has >= 2 tokens must be caught by the near
    # gate too (identical signatures always collide in every band)
    texts = {
        r.doc_id: r.text
        for r in d.filter(F.col("doc_id") > cut).select("doc_id", "text").collect()
    }
    for r in rows:
        if r.is_exact_dup and len([t for t in texts[r.doc_id].split(" ") if t]) >= 2:
            assert r.is_near_dup, f"exact dup with signature missed by LSH: {r}"


def test_quantile_partial_merge_matches_exact(spark, sf_dir):
    """Merged-histogram quantiles must equal a direct exact computation
    over raw values (lower-value-at-ceil convention), and the
    percentile_approx rank certification must hold."""
    import math

    rows = {
        r.event_type: r
        for r in QUERIES["agg_quantile_partial_merge"](spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.floor(F.col("value") * 100).cast("bigint").alias("c"))
        .collect()
    )
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.c)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        row = rows[et]
        assert row.n_rows == n
        for p in (50, 90, 99):
            # smallest value whose cumulative count reaches ceil(p*n/100)
            expect = vals[math.ceil(p * n / 100) - 1]
            assert getattr(row, f"p{p}_cents") == expect, (et, p)
        assert row.approx_rank_ok


def test_url_gate_replay_sees_pre_batch_state(spark, sf_dir, tmp_path):
    """Regression (round-10 ADVICE medium): a supervised replay of
    micro-batch N must assemble its seen set from the base store plus
    STRICTLY-EARLIER committed batches only. Before the fix, the replay
    listed every ``batch=*`` entry — including N's OWN commit from the
    failed attempt — so its first-seen docs flipped to is_dup_url=true
    and the newly-seen commit was overwritten as empty, corrupting every
    later batch sharing those canonical URLs. Here we drive the applier
    directly: run batch 0, then replay it with its own commit already on
    disk, and require byte-identical verdicts and a non-empty identical
    newly-seen commit; batch 1 must still see batch 0's URLs as dups."""
    import os

    from mongodb_cdc_spark.operators.curation import (
        _url_canon_ctes,
        _url_wave_feed,
        url_gate_batch_applier,
        url_seen_store_path,
    )

    d = load_table(spark, sf_dir, "documents")
    cut = int(d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0])
    seen_store = url_seen_store_path(spark, sf_dir, cut)
    feed = _url_wave_feed(spark, sf_dir, cut)
    target = str(tmp_path / "target")
    seen_dir = str(tmp_path / "seen")
    os.makedirs(seen_dir)
    apply_batch = url_gate_batch_applier(seen_store, target, seen_dir)

    def verdicts(i):
        return sorted(
            (r.doc_id, r.is_dup_url)
            for r in spark.read.parquet(f"{target}/batch={i}").collect()
        )

    def committed(i):
        return {
            r.curl
            for r in spark.read.parquet(f"{seen_dir}/batch={i}").collect()
        }

    b0 = spark.read.parquet(os.path.join(feed, "wave_0.parquet"))
    apply_batch(b0, 0)
    v_first, s_first = verdicts(0), committed(0)
    assert s_first, "batch 0 must commit a non-empty newly-seen set"
    assert any(not dup for _, dup in v_first)

    # the failure-replay scenario: batch 0 runs again with its OWN
    # batch=0 commit already present in seen_dir
    apply_batch(b0, 0)
    assert verdicts(0) == v_first, "replay changed batch-0 verdicts"
    assert committed(0) == s_first, "replay changed batch-0 seen commit"

    # batch 1 semantics, checked in full: dup iff canonical URL in
    # (base store ∪ batch-0 commit) or a smaller-doc_id batch-1 doc
    # carries it — i.e. batch 1 DOES read batch 0's commit, and ONLY
    # strictly-earlier commits
    b1 = spark.read.parquet(os.path.join(feed, "wave_1.parquet"))
    apply_batch(b1, 1)
    b1.createOrReplaceTempView("url_batch_t")
    b1_curl = {
        r.doc_id: r.curl
        for r in spark.sql(
            f"WITH {_url_canon_ctes('spark', 'url_batch_t')} "
            "SELECT doc_id, curl FROM canon"
        ).collect()
    }
    base_curls = {r.curl for r in spark.read.parquet(seen_store).collect()}
    prior = base_curls | s_first
    cmin: dict = {}
    for doc_id, curl in b1_curl.items():
        cmin[curl] = min(cmin.get(curl, doc_id), doc_id)
    v1 = dict(verdicts(1))
    assert set(v1) == set(b1_curl)
    for doc_id, curl in b1_curl.items():
        expect = curl in prior or doc_id > cmin[curl]
        assert v1[doc_id] == expect, (doc_id, curl)


def test_url_gate_never_shuffles_state(spark, sf_dir, tmp_path):
    """The frontier gate's 100 TB claim in plan form: the seen set must
    reach the batch only through broadcast joins (a semi-join prune,
    then the batch-sized distinct slice as the probe's build side) — a
    bare .distinct() or sort-merge join against the state side would
    shuffle the whole corpus-cardinality frontier every micro-batch.
    Drives the applier's OWN read path (`url_batch_verdicts`) at
    batch 1, where both the base store AND a committed batch-0 set are
    in play."""
    import os

    from mongodb_cdc_spark.operators.curation import (
        _url_canon_ctes,
        _url_wave_feed,
        url_batch_verdicts,
        url_gate_batch_applier,
        url_seen_store_path,
    )

    d = load_table(spark, sf_dir, "documents")
    cut = int(d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0])
    seen_store = url_seen_store_path(spark, sf_dir, cut)
    feed = _url_wave_feed(spark, sf_dir, cut)
    target, seen_dir = str(tmp_path / "t"), str(tmp_path / "s")
    os.makedirs(seen_dir)
    apply_batch = url_gate_batch_applier(seen_store, target, seen_dir)
    b0 = spark.read.parquet(os.path.join(feed, "wave_0.parquet"))
    apply_batch(b0, 0)
    b1 = spark.read.parquet(os.path.join(feed, "wave_1.parquet"))
    b1.createOrReplaceTempView("url_batch_plan")
    bcanon = spark.sql(
        f"WITH {_url_canon_ctes('spark', 'url_batch_plan')} "
        "SELECT doc_id, curl FROM canon"
    )
    probe = url_batch_verdicts(spark, bcanon, seen_store, seen_dir, 1)
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "simple"
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # prune + probe


def test_text_gate_never_shuffles_state(spark, sf_dir):
    """The text-dedup gate's 100 TB claim in plan form: every base
    artifact (banded signature index, md5 store, rep shingle index,
    size map) must reach the batch through BroadcastHashJoins — either
    the batch side broadcast into the state scan or the state
    semi-pruned to candidate bids first. A SortMergeJoin against any
    state side would shuffle a corpus-cardinality index every
    micro-batch. Drives the gate's OWN read path
    (`text_gate_verdicts`) on a real wave slice."""
    from mongodb_cdc_spark.operators.curation import (
        _gate_setup_frames,
        base_signature_store_path,
        dedup_gate_store_path,
        text_gate_verdicts,
    )
    from mongodb_cdc_spark.operators.extensions import signature_bands

    d = load_table(spark, sf_dir, "documents")
    cut = int(d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0])
    store_bands = signature_bands(
        spark.read.parquet(base_signature_store_path(spark, sf_dir, cut))
    )
    gate = dedup_gate_store_path(spark, sf_dir, cut)
    base_md5, bsh, bsz = _gate_setup_frames(spark, gate)
    wave = d.filter(F.col("doc_id") > cut).limit(50)
    probe = text_gate_verdicts(wave, base_md5, store_bands, bsh, bsz)
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "simple"
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def _semantic_gate_probe(spark, sf_dir):
    """The semantic gate's own per-batch read path
    (`semantic_gate_verdicts`) over the real wave slice; returns
    (verdicts frame, wave row count)."""
    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf
    from mongodb_cdc_spark.operators.curation import (
        _SEM_K,
        semantic_gate_verdicts,
        sem_base_rank_store_path,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cut = int(e.agg(F.expr("(MAX(vec_id) * 9) div 10")).collect()[0][0])
    base_rank = spark.read.parquet(
        sem_base_rank_store_path(spark, sf_dir, cut)
    )
    base_emb = e.filter(F.col("vec_id") <= cut).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bemb")
    )
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") < _SEM_K)
        .orderBy("vec_id")
        .collect()
    ]
    base_narrow = base_rank.select(
        "vec_id",
        "cluster",
        *[f"s{k}" for k in range(_SEM_K)],
        F.lit(False).alias("is_wave"),
    )
    wave = e.filter(F.col("vec_id") > cut).select("vec_id", "embedding")
    probe = semantic_gate_verdicts(
        wave, base_narrow, base_emb, centroid_cosines_udf(cents)
    )
    return probe, wave.count()


def test_semantic_gate_never_shuffles_embeddings(spark, sf_dir):
    """The semantic gate's verify stage in plan form: the base
    embedding table is corpus-cardinality and must reach the batch
    only via the candidate-bid semi-prune + broadcast of the pruned
    slice — a bare bid equi-join would shuffle every base embedding
    per micro-batch. Drives the gate's OWN read path
    (`semantic_gate_verdicts`) on a real wave slice."""
    probe, _ = _semantic_gate_probe(spark, sf_dir)
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "simple"
    )
    # the candidate kernel's groupBy(cluster) repartition is the one
    # sanctioned exchange (narrow 9-number rows, documented store
    # scan); the embedding table itself must only appear under
    # broadcast joins
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_semantic_gate_compiles_without_codegen_fallback(spark, sf_dir):
    """The exact-cosine verify join must survive whole-stage codegen
    with no session conf toggled around it. With
    `spark.sql.codegen.fallback=false` a failed janino compile raises
    instead of silently dropping to interpreted evaluation, so this
    runs the gate's per-batch action exactly as a micro-batch would
    and proves every generated stage compiles."""
    probe, n_wave = _semantic_gate_probe(spark, sf_dir)
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = probe.collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert len(rows) == n_wave > 0


def test_url_gate_seen_read_set_is_bounded(spark, sf_dir, tmp_path):
    """The standing-frontier bound (round-10 VERDICT #1): a micro-batch's
    seen set is exactly {persisted store} ∪ {strictly-earlier batches of
    the CURRENT run} — nothing else on disk is read. Poison commits at
    batch ids >= the current one (stale garbage from a dead run, or
    future ids) must not change verdicts: we plant batch=1..4 commits
    containing exactly batch 1's first-seen canonical URLs; if the
    applier read ANY of them, those docs would flip to is_dup_url=true."""
    import os

    from mongodb_cdc_spark.operators.curation import (
        _url_wave_feed,
        url_gate_batch_applier,
        url_seen_store_path,
    )

    d = load_table(spark, sf_dir, "documents")
    cut = int(d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0])
    seen_store = url_seen_store_path(spark, sf_dir, cut)
    feed = _url_wave_feed(spark, sf_dir, cut)

    # reference run: clean seen_dir
    t_a, s_a = str(tmp_path / "ta"), str(tmp_path / "sa")
    os.makedirs(s_a)
    apply_a = url_gate_batch_applier(seen_store, t_a, s_a)
    b0 = spark.read.parquet(os.path.join(feed, "wave_0.parquet"))
    b1 = spark.read.parquet(os.path.join(feed, "wave_1.parquet"))
    apply_a(b0, 0)
    apply_a(b1, 1)
    ref = sorted(
        (r.doc_id, r.is_dup_url)
        for r in spark.read.parquet(f"{t_a}/batch=1").collect()
    )
    b1_new = spark.read.parquet(f"{s_a}/batch=1")
    assert b1_new.count() > 0

    # poisoned run: batches 1..4 pre-seeded with batch 1's first-seen
    # URLs before batch 1 executes
    t_b, s_b = str(tmp_path / "tb"), str(tmp_path / "sb")
    os.makedirs(s_b)
    apply_b = url_gate_batch_applier(seen_store, t_b, s_b)
    apply_b(b0, 0)
    for i in (1, 2, 3, 4):
        b1_new.write.mode("overwrite").parquet(f"{s_b}/batch={i}")
    apply_b(b1, 1)
    got = sorted(
        (r.doc_id, r.is_dup_url)
        for r in spark.read.parquet(f"{t_b}/batch=1").collect()
    )
    assert got == ref, "batch 1 read a commit with id >= its own"


def test_corpus_pipeline_replay_twice_idempotent(spark, sf_dir, tmp_path):
    """The unified corpus-prep pipeline's exactly-once contract (R9):
    replaying a micro-batch — with its own commits already on disk from
    the failed attempt — rewrites byte-identical verdicts for ALL THREE
    gates, and a later batch's verdicts are unaffected by the replay."""
    import os

    from mongodb_cdc_spark.operators.curation import (
        _gate_setup_frames,
        _url_wave_feed,
        base_signature_store_path,
        corpus_gate_batch_applier,
        dedup_gate_store_path,
        url_seen_store_path,
    )
    from mongodb_cdc_spark.operators.extensions import signature_bands
    from mongodb_cdc_spark.operators.multimodal import (
        _PH_BANDS,
        phash_store_path,
    )

    d = load_table(spark, sf_dir, "documents")
    cut = int(d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0])
    url_store = url_seen_store_path(spark, sf_dir, cut)
    store_bands = signature_bands(
        spark.read.parquet(base_signature_store_path(spark, sf_dir, cut))
    ).localCheckpoint(eager=True)
    base_md5, bsh, bsz = (
        f.localCheckpoint(eager=True)
        for f in _gate_setup_frames(
            spark, dedup_gate_store_path(spark, sf_dir, cut)
        )
    )
    psig = spark.read.parquet(phash_store_path(spark, sf_dir)).filter(
        F.col("doc_id") <= cut
    )
    bb = None
    for k in range(_PH_BANDS):
        b = psig.select(
            F.col("doc_id").alias("bid"),
            F.col("sig").alias("sig_b"),
            F.lit(k).alias("band"),
            F.shiftright("sig", k * 4).bitwiseAND(F.lit(15)).alias("nib"),
        )
        bb = b if bb is None else bb.unionByName(b)
    base_sig_bands = bb.localCheckpoint(eager=True)

    feed = _url_wave_feed(spark, sf_dir, cut)
    target = str(tmp_path / "t")
    url_t = str(tmp_path / "ut")
    seen = str(tmp_path / "us")
    os.makedirs(seen)
    apply_batch = corpus_gate_batch_applier(
        url_store, url_t, seen, base_md5, store_bands, bsh, bsz,
        base_sig_bands, target,
    )

    def rows(i):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{target}/batch={i}").collect()
        )

    b0 = spark.read.parquet(os.path.join(feed, "wave_0.parquet"))
    b1 = spark.read.parquet(os.path.join(feed, "wave_1.parquet"))
    apply_batch(b0, 0)
    v0 = rows(0)
    assert v0 and len(v0[0]) == 5  # url applier target: 5-col combined
    apply_batch(b0, 0)  # replay with own commits present
    assert rows(0) == v0, "replay changed batch-0 pipeline verdicts"
    apply_batch(b1, 1)
    v1 = rows(1)
    apply_batch(b1, 1)  # replay batch 1 too
    assert rows(1) == v1
    # the pipeline emits every doc of both batches exactly once
    ids = {r[0] for r in v0} | {r[0] for r in v1}
    assert len(ids) == len(v0) + len(v1)


def test_semantic_gate_batching_invariance(spark, sf_dir, tmp_path):
    """The semantic frontier gate judges each wave vector against BASE
    only, so verdicts must be invariant to batching and replay: one
    whole-wave batch, two half-wave batches, and a replayed batch all
    produce identical per-vector verdicts; and any wave vector whose
    exact duplicate exists in the base (cosine 1.0, in-window by
    construction at its own insertion point) must flag as dup."""
    import os

    from mongodb_cdc_spark.operators.curation import (
        _SEM_K,
        semantic_gate_batch_applier,
        sem_base_rank_store_path,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cut = int(e.agg(F.expr("(MAX(vec_id) * 9) div 10")).collect()[0][0])
    base_rank = spark.read.parquet(
        sem_base_rank_store_path(spark, sf_dir, cut)
    ).localCheckpoint(eager=True)
    base_emb = (
        e.filter(F.col("vec_id") <= cut)
        .select(F.col("vec_id").alias("bid"), F.col("embedding").alias("bemb"))
        .localCheckpoint(eager=True)
    )
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") < _SEM_K).orderBy("vec_id").collect()
    ]
    wave = e.filter(F.col("vec_id") > cut)
    mid = int(wave.agg(F.expr("percentile(vec_id, 0.5)")).collect()[0][0])

    def run(batches, tag):
        target = str(tmp_path / tag)
        apply_batch = semantic_gate_batch_applier(
            base_rank, base_emb, cents, cut, target
        )
        for i, b in enumerate(batches):
            apply_batch(b, i)
        return sorted(
            (r.vec_id, r.is_semantic_dup)
            for r in spark.read.parquet(target).select(
                "vec_id", "is_semantic_dup"
            ).collect()
        )

    whole = run([wave], "whole")
    halves = run(
        [wave.filter(F.col("vec_id") <= mid), wave.filter(F.col("vec_id") > mid)],
        "halves",
    )
    assert whole == halves, "verdicts depend on batching"
    # replay: apply batch 0 twice into the same target
    target = str(tmp_path / "replay")
    apply_batch = semantic_gate_batch_applier(
        base_rank, base_emb, cents, cut, target
    )
    apply_batch(wave, 0)
    apply_batch(wave, 0)
    assert (
        sorted(
            (r.vec_id, r.is_semantic_dup)
            for r in spark.read.parquet(target).collect()
        )
        == whole
    )


def test_fold_state_paths_is_o1(tmp_path):
    """The per-run state fold (round-10 VERDICT #4): with folds written
    every _STATE_FOLD_EVERY batches, a standing batch's read set is
    bounded paths — never O(waves) — and the fold builder never reads
    the fold path it is about to overwrite."""
    import os

    from mongodb_cdc_spark.operators.curation import (
        _STATE_FOLD_EVERY,
        fold_state_paths,
    )

    d = str(tmp_path / "state")
    os.makedirs(d)
    for i in range(7):
        os.makedirs(os.path.join(d, f"batch={i}"))
    # no folds yet: batch 7 would read all 7 commits
    assert len(fold_state_paths(d, 7)) == 7
    # folds as maybe_fold_state would have written them (every 2nd)
    for f in (2, 4, 6):
        os.makedirs(os.path.join(d, f"fold={f}"))
    for b in range(8):
        paths = fold_state_paths(d, b)
        assert len(paths) <= _STATE_FOLD_EVERY, (b, paths)
        # strictly-earlier only: no batch=i with i >= b
        for p in paths:
            name = os.path.basename(p)
            if name.startswith("batch="):
                assert int(name.split("=")[1]) < b
            else:
                assert int(name.split("=")[1]) <= b
    # the fold-build read set at batch 6 must exclude fold=6 itself
    build = fold_state_paths(d, 6, for_fold_build=True)
    assert os.path.join(d, "fold=6") not in build
    assert os.path.join(d, "fold=4") in build
    assert os.path.join(d, "batch=4") in build and os.path.join(
        d, "batch=5"
    ) in build


def test_url_gate_fold_equals_unfolded_reads(spark, sf_dir, tmp_path):
    """Folding is a READ-PATH optimization only: batch N's verdicts
    computed through the fold must be byte-identical to the same batch
    recomputed with the folds deleted (falling back to every per-batch
    commit). Also pins that a fold dir actually appears mid-run."""
    import os
    import shutil

    from mongodb_cdc_spark.operators.curation import (
        _url_wave_feed,
        url_gate_batch_applier,
        url_seen_store_path,
    )

    d = load_table(spark, sf_dir, "documents")
    cut = int(d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0])
    seen_store = url_seen_store_path(spark, sf_dir, cut)
    feed = _url_wave_feed(spark, sf_dir, cut)
    target = str(tmp_path / "target")
    seen_dir = str(tmp_path / "seen")
    os.makedirs(seen_dir)
    apply_batch = url_gate_batch_applier(seen_store, target, seen_dir)
    for i in range(4):
        b = spark.read.parquet(os.path.join(feed, f"wave_{i}.parquet"))
        apply_batch(b, i)
    assert os.path.isdir(os.path.join(seen_dir, "fold=2")), (
        "in-run fold never materialized"
    )

    def verdicts(i):
        return sorted(
            (r.doc_id, r.is_dup_url)
            for r in spark.read.parquet(f"{target}/batch={i}").collect()
        )

    v3 = verdicts(3)
    # delete every fold and replay batch 3: the read path falls back to
    # the raw commits; verdicts must not change
    for n in os.listdir(seen_dir):
        if n.startswith("fold="):
            shutil.rmtree(os.path.join(seen_dir, n))
    b3 = spark.read.parquet(os.path.join(feed, "wave_3.parquet"))
    apply_batch(b3, 3)
    assert verdicts(3) == v3


def _xwave_fixture(spark, tmp_path):
    """Synthetic fixtures for driving corpus_gate_xwave_applier
    directly: a one-doc base corpus plus helper frames, and two wave
    batches engineered so batch 1 contains an exact, a near, a media,
    and a semantic duplicate of batch-0 docs that have NO base partner
    — the cross-wave detections the sf fixtures barely exercise."""
    import os

    from pyspark.sql import Row

    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf
    from mongodb_cdc_spark.operators.curation import (
        _SEM_K,
        _sem_assign_case,
        _phash_band_rows,
        _sign_reps,
    )
    from mongodb_cdc_spark.operators.extensions import signature_bands
    from mongodb_cdc_spark.operators.multimodal import (
        PHASH_SCHEMA,
        phash_signatures,
    )
    from mongodb_cdc_spark.functions.text import bigram_shingles, tokens

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    base = spark.createDataFrame(
        [Row(doc_id=1, text=base_text)], "doc_id bigint, text string"
    )
    base_md5 = base.select(F.md5("text").alias("h")).distinct()
    reps = base.select("doc_id", "text")
    store_bands = signature_bands(_sign_reps(reps))
    bsh = (
        reps.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(bigram_shingles("toks")).alias("g"))
        .select("doc_id", F.substring(F.md5("g"), 1, 16).alias("h"))
    )
    bsz = bsh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    base_sig_bands = _phash_band_rows(
        base.select("doc_id", F.encode("text", "UTF-8").alias("content"))
        .mapInPandas(phash_signatures, PHASH_SCHEMA)
    )
    # embeddings: 4 orthogonal centroids (vec 0..3), one base vector (1),
    # wave vectors 100.. near-parallel to doc 10's vector
    dim = 64  # cosine_unrolled_sql is unrolled to the production dim

    def v(i, scale=1.0):
        e = [0.0] * dim
        e[i % 4] = scale
        return e

    def v2(scale):  # docs 10 and 20 share a direction: cosine = 1.0
        e = [0.0] * dim
        e[0] = e[1] = scale
        return e

    def v3(scale):  # docs 21 and 22 share a SECOND direction — the
        e = [0.0] * dim  # same-batch semantic pair (batch 1 only)
        e[2] = e[3] = scale
        return e

    emb_rows = [Row(vec_id=k, embedding=v(k)) for k in range(4)]
    emb_rows += [
        Row(vec_id=10, embedding=v2(1.0)),
        Row(vec_id=20, embedding=v2(2.0)),
        Row(vec_id=21, embedding=v3(1.0)),
        Row(vec_id=22, embedding=v3(3.0)),
    ]
    emb = spark.createDataFrame(
        emb_rows, "vec_id bigint, embedding array<double>"
    )
    cents = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    sem_project = centroid_cosines_udf(cents)
    # base semantic store: the base vector is one of the centroids (vec 1)
    sem_base_narrow = (
        emb.filter(F.col("vec_id") == 1)
        .select("vec_id", sem_project("embedding").alias("_s"))
        .select(
            "vec_id",
            *[F.col("_s")[k].alias(f"s{k}") for k in range(_SEM_K)],
        )
        .withColumn("cluster", F.expr(_sem_assign_case()))
        .select("vec_id", "cluster", "s0", "s1", "s2", "s3")
        .withColumn("is_wave", F.lit(False))
    )
    sem_base_emb = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bemb")
    )

    # wave batches: batch 0 docs 10,11; batch 1 docs 20,21
    #  - doc 20: SAME text as doc 10 (cross-wave exact+near+media dup)
    #    and same embedding direction (cross-wave semantic dup)
    #  - doc 21: unique text, no vector
    t10 = "completely novel wave content alpha beta gamma delta epsilon"
    t11 = "unrelated filler text one two three four five six seven"
    t21 = "another unique wave document zeta eta theta iota kappa"
    # documents-shaped frames: the canonical URL is SYNTHESIZED from
    # (source, lang, doc_id) by _url_canon_ctes, and all four doc_ids
    # differ mod 211, so every wave doc gets a distinct fresh URL
    b0 = spark.createDataFrame(
        [
            Row(doc_id=10, text=t10, lang="en", source="webx"),
            Row(doc_id=11, text=t11, lang="en", source="webx"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    # doc 22 duplicates doc 21 inside the SAME batch — the in-batch
    # first-seen-wins arms must flag it (exact/near/media), not just
    # the cross-batch state path
    b1 = spark.createDataFrame(
        [
            Row(doc_id=20, text=t10, lang="en", source="webx"),
            Row(doc_id=21, text=t21, lang="en", source="webx"),
            Row(doc_id=22, text=t21, lang="en", source="webx"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    # base URL store: none of the wave URLs
    seen_store = str(tmp_path / "seen_store")
    spark.createDataFrame(
        [Row(curl="http://base.example/")], "curl string"
    ).write.parquet(seen_store)
    dirs = {
        "url_target": str(tmp_path / "urlv"),
        "url_seen": str(tmp_path / "urlseen"),
        "target": str(tmp_path / "target"),
        "state": str(tmp_path / "state"),
    }
    os.makedirs(dirs["url_seen"])
    return {
        "base_md5": base_md5,
        "store_bands": store_bands,
        "bsh": bsh,
        "bsz": bsz,
        "base_sig_bands": base_sig_bands,
        "sem_base_narrow": sem_base_narrow,
        "sem_base_emb": sem_base_emb,
        "sem_project": sem_project,
        "emb": emb.select("vec_id", "embedding"),
        "seen_store": seen_store,
        "b0": b0,
        "b1": b1,
        **dirs,
    }


def test_xwave_applier_detects_cross_wave_dups(spark, tmp_path):
    """A batch-1 doc duplicating a batch-0 doc (no base partner) must
    trip ALL FOUR text/media/sem gates — the exact hole round-10's
    VERDICT flagged (wave-vs-base-only gates pass it). Also pins that
    batch 0 itself does NOT flip (its state is not its own input)."""
    from mongodb_cdc_spark.operators.curation import (
        corpus_gate_xwave_applier,
    )

    fx = _xwave_fixture(spark, tmp_path)
    apply_batch = corpus_gate_xwave_applier(
        fx["seen_store"],
        fx["url_target"],
        fx["url_seen"],
        fx["base_md5"],
        fx["store_bands"],
        fx["bsh"],
        fx["bsz"],
        fx["base_sig_bands"],
        fx["sem_base_narrow"],
        fx["sem_base_emb"],
        fx["sem_project"],
        fx["emb"],
        fx["target"],
        fx["state"],
    )
    apply_batch(fx["b0"], 0)
    apply_batch(fx["b1"], 1)

    def verdicts(i):
        return {
            r.doc_id: r.asDict()
            for r in spark.read.parquet(
                f"{fx['target']}/batch={i}"
            ).collect()
        }

    v0, v1 = verdicts(0), verdicts(1)
    # batch 0: doc 10 is fresh everywhere (no base partner)
    assert not v0[10]["is_exact_dup"]
    assert not v0[10]["is_near_dup"]
    assert not v0[10]["is_semantic_dup"]
    assert not v0[10]["is_dup_url"]
    # batch 1: doc 20 duplicates doc 10 across the wave boundary
    assert v1[20]["is_exact_dup"], "cross-wave exact dup missed"
    assert v1[20]["is_near_dup"], "cross-wave near dup missed"
    assert v1[20]["is_media_dup"], "cross-wave media dup missed"
    assert v1[20]["is_semantic_dup"], "cross-wave semantic dup missed"
    assert not v1[20]["is_dup_url"], "distinct URL must not be a URL dup"
    # doc 21 is first-seen: only gates with a SMALLER-id partner fire
    assert not v1[21]["is_exact_dup"]
    assert not v1[21]["is_semantic_dup"]
    # doc 22 duplicates doc 21 in the SAME batch: the in-batch arms
    # must flag exact, near (identical shingle set, J=1), and media
    # (identical signature, Hamming 0); no vector, so semantic passes
    assert v1[22]["is_exact_dup"], "same-batch exact dup missed"
    assert v1[22]["is_near_dup"], "same-batch near dup missed"
    assert v1[22]["is_media_dup"], "same-batch media dup missed"
    # doc 22's vector is parallel to doc 21's (same batch, smaller id):
    # the in-batch exact-cosine arm must flag it; 21 itself has no
    # smaller-id partner in its direction
    assert v1[22]["is_semantic_dup"], "same-batch semantic dup missed"
    assert not v1[21]["is_semantic_dup"]


def test_xwave_applier_replay_sees_pre_batch_state(spark, tmp_path):
    """The exactly-once contract for the four NEW state families (the
    r9 URL-gate lesson generalized): replaying batch 1 with its own
    verdict AND state commits already on disk must rewrite identical
    verdicts — its own md5/band/shingle/phash/sem commits are never in
    its read set (doc 20 would otherwise flip nothing here, but a
    SELF-match would poison doc 21 in a corpus where 21 duplicated
    20)."""
    from mongodb_cdc_spark.operators.curation import (
        corpus_gate_xwave_applier,
    )

    fx = _xwave_fixture(spark, tmp_path)
    apply_batch = corpus_gate_xwave_applier(
        fx["seen_store"],
        fx["url_target"],
        fx["url_seen"],
        fx["base_md5"],
        fx["store_bands"],
        fx["bsh"],
        fx["bsz"],
        fx["base_sig_bands"],
        fx["sem_base_narrow"],
        fx["sem_base_emb"],
        fx["sem_project"],
        fx["emb"],
        fx["target"],
        fx["state"],
    )
    apply_batch(fx["b0"], 0)
    apply_batch(fx["b1"], 1)

    def verdicts(i):
        return sorted(
            tuple(r) for r in spark.read.parquet(
                f"{fx['target']}/batch={i}"
            ).collect()
        )

    v0, v1 = verdicts(0), verdicts(1)
    # replay batch 1 (state/verdict commits for batch 1 already exist)
    apply_batch(fx["b1"], 1)
    assert verdicts(1) == v1, "replay changed batch-1 verdicts"
    # replay batch 0: batch 1's commits are LATER state — must be unread
    apply_batch(fx["b0"], 0)
    assert verdicts(0) == v0, "batch 0 read later-batch state on replay"

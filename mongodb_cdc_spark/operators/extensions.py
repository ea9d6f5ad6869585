"""North-star LLM-data-pipeline operators (SURVEY.md §2B "North-star
extensions" + the training-data operations a 100 TB corpus pipeline
needs): text analysis, exact/near deduplication, similarity search,
multimodal join.

Scale design notes:

* Text ops are pure codegen expressions over the scan — they add no
  shuffle at all.
* Exact dedup groups on a 128-bit content hash: the shuffle carries
  (hash, doc_id), never the text payload.
* MinHash/SimHash near-dup generate candidate PAIRS via band-bucket
  equi-joins — the classic LSH trick that turns an O(n²) all-pairs
  problem into |buckets| keyed joins. Hot buckets (boilerplate shingles)
  are the skew risk; AQE skew-join splitting handles moderate cases, and
  band hashes can be salted if a bucket degenerates.
* Brute-force cosine top-k broadcasts the probe (one row) — the scan
  stays embarrassingly parallel, TakeOrderedAndProject keeps per-partition
  heaps. The IVF variant is the scale path: cluster-assign once, then
  search only the probe's bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongodb_cdc_spark.functions.text import (
    LANG_MARKERS,
    bigram_shingles,
    fingerprint,
    fingerprint_sql,
    marker_hits,
    marker_hits_sql,
    normalized,
    normalized_sql,
    tokens,
    tokens_sql,
)
from mongodb_cdc_spark.functions.vectors import (
    LSH_BANDS,
    LSH_BITS,
    cosine,
    cosine_unrolled_sql,
    dot,
    dot_unrolled_sql,
    lsh_bit_sum_sql,
)
from mongodb_cdc_spark.io import load_table, register_views
from mongodb_cdc_spark.operators._util import avg2, avg2_sql, new_stage, publish_store, round2_sql
from mongodb_cdc_spark.registry import query

# ---------------------------------------------------------------- text ----


@query(
    "ext_text_wordcount",
    oracle=f"""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest({tokens_sql('text')}) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 50
    """,
)
def ext_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-50 words (count DESC, word ASC — total order, so the
    limit set is deterministic). explode(tokens) partial-aggregates
    map-side; only (word, count) pairs shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(50)
    )


@query(
    "ext_text_lang_stats",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs,
           {avg2_sql('n_chars', 'avg_chars')[1]}
    FROM documents
    GROUP BY lang
    """,
)
def ext_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc counts + mean length."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), avg2("n_chars", "avg_chars")
    )


def _langid_pred() -> F.Column:
    """argmax over per-language marker scores; deterministic tie-break by
    language code order; no hits at all -> 'und'."""
    scored = None
    for lang in sorted(LANG_MARKERS):
        s = marker_hits(lang)
        pair = F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        scored = pair if scored is None else F.when(
            (pair.getField("score")) > scored.getField("score"), pair
        ).otherwise(scored)
    return F.when(scored.getField("score") > 0, scored.getField("lang")).otherwise(
        F.lit("und")
    )


def _langid_pred_sql() -> str:
    langs = sorted(LANG_MARKERS)
    expr = f"'{langs[0]}'"
    best = marker_hits_sql(langs[0])
    # mirror the Spark fold: later languages win only on strictly greater score
    for lang in langs[1:]:
        s = marker_hits_sql(lang)
        expr = f"(CASE WHEN {s} > {best} THEN '{lang}' ELSE {expr} END)"
        best = f"greatest({s}, {best})"
    return f"(CASE WHEN {best} > 0 THEN {expr} ELSE 'und' END)"


@query(
    "ext_text_langid",
    oracle=f"""
    SELECT lang AS actual_lang, {_langid_pred_sql()} AS predicted_lang,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1, 2
    """,
)
def ext_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (marker-word hit scoring + argmax, 'und' when
    nothing matches) cross-tabbed against the labeled lang column — the
    shape of an n-gram language classifier, as pure codegen expressions."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("actual_lang"), _langid_pred().alias("predicted_lang"))
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "ext_text_quality",
    oracle=f"""
    SELECT doc_id,
           len({tokens_sql('text')}) AS n_tokens,
           (length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', ''))) AS n_punct,
           {round2_sql(f"CAST(length(text) AS DOUBLE) / len({tokens_sql('text')})", 'avg_token_len')[1]},
           (CASE WHEN len({tokens_sql('text')}) BETWEEN 5 AND 2000
                 AND (length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', '')))
                     * 10 < length(text)
                 THEN 1 ELSE 0 END) AS quality_pass
    FROM documents
    """,
)
def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features: token count, punctuation count, average
    token length, and a pass/fail gate (length band + punctuation density
    < 10%) — the standard pre-training corpus filter shape."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text"))
    n_punct = F.length("text") - F.length(
        F.translate(F.col("text"), ".,!", "")
    )
    avg_tok = F.expr(
        "CAST(CAST(FLOOR((CAST(length(text) AS DOUBLE) / "
        "size(filter(split(text, ' '), t -> t != ''))) * 100 + 0.5) AS BIGINT) "
        "AS DOUBLE) / 100.0"
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        avg_tok.alias("avg_token_len"),
        F.when(
            n_tokens.between(5, 2000) & (n_punct * 10 < F.length("text")), 1
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


@query(
    "ext_text_tokens",
    oracle=f"""
    SELECT doc_id,
           len({tokens_sql('text')}) AS n_ws_tokens,
           len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), t -> t <> '')) AS n_word_tokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def ext_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and regex word tokens
    (the BPE-ish pre-tokenizer split), plus character count."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(
            F.filter(F.split(F.col("text"), "[^a-zA-Z0-9]+"), lambda t: t != "")
        ).alias("n_word_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


@query(
    "ext_text_fingerprint",
    oracle=f"""
    SELECT {fingerprint_sql('text')} AS fp,
           MIN(doc_id) AS first_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def ext_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit content fingerprint over normalized text (lowercase,
    whitespace-collapsed md5 prefix); grouping surfaces collision sets —
    the container-level dedup key for a crawl corpus."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("first_doc_id"), F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------- dedup ----


@query(
    "ext_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group on md5(text), keep min(doc_id) per group
    (deterministic keeper). The shuffle carries 16-byte hashes, not
    documents — at 100 TB that is the difference between shuffling
    hashes (~GBs) and shuffling the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "ext_dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang,
             CASE WHEN len({tokens_sql('text')}) >= 2
                  THEN list_distinct(list_transform(
                         generate_series(1, len({tokens_sql('text')}) - 1),
                         i -> {tokens_sql('text')}[i] || ' ' || {tokens_sql('text')}[i+1]))
                  ELSE [] END AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / nullif(len(list_distinct(list_concat(a.shingles, b.shingles))), 0)
             * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    """,
)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram-shingle Jaccard similarity over candidate pairs
    (adjacent doc_ids within a language — a stand-in pair generator; in
    production the pair source is the MinHash/SimHash candidate stream
    below). Jaccard emitted as an e6-scaled BIGINT: a single division of
    exact set cardinalities, deterministic in both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    shingles = F.when(
        F.size(toks) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", "lang", shingles.alias("shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(
        F.array_distinct(F.concat(F.col("a.shingles"), F.col("b.shingles")))
    )
    jac = inter.cast("double") / F.nullif(union, F.lit(0))
    return a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 1)
        & (F.col("a.lang") == F.col("b.lang")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.floor(jac * 1000000 + 0.5).cast("bigint").alias("jaccard_e6"),
    )


@query(
    "ext_dedup_containment",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang,
             CASE WHEN len({tokens_sql('text')}) >= 2
                  THEN list_distinct(list_transform(
                         generate_series(1, len({tokens_sql('text')}) - 1),
                         i -> {tokens_sql('text')}[i] || ' ' || {tokens_sql('text')}[i+1]))
                  ELSE [] END AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / nullif(len(a.shingles), 0) * 1000000 + 0.5) AS BIGINT)
             AS cont_ab_e6,
           CAST(FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / nullif(len(b.shingles), 0) * 1000000 + 0.5) AS BIGINT)
             AS cont_ba_e6
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    """,
)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT C(a in b) = |Sa ∩ Sb| / |Sa| over
    candidate pairs — the measure Jaccard misses: a short document quoted
    verbatim inside a long one scores near-zero Jaccard (the union is
    dominated by the long doc) but containment ~1.0 in one direction.
    Production near-dup pipelines (e.g. URL-page boilerplate wrappers,
    quote-inclusion chains) filter on max(C(a,b), C(b,a)), not Jaccard
    alone. Same candidate generator and shuffle shape as
    `ext_dedup_ngram_jaccard` (verification stage over candidate pairs
    only — LSH upstream keeps it off the all-pairs cliff at 100 TB);
    both directions emitted as e6-scaled BIGINTs from one exact
    intersection."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    shingles = F.when(
        F.size(toks) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", "lang", shingles.alias("shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))

    def _cont(denom):
        frac = inter.cast("double") / F.nullif(denom, F.lit(0))
        return F.floor(frac * 1000000 + 0.5).cast("bigint")

    return a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 1)
        & (F.col("a.lang") == F.col("b.lang")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        _cont(F.size(F.col("a.shingles"))).alias("cont_ab_e6"),
        _cont(F.size(F.col("b.shingles"))).alias("cont_ba_e6"),
    )


_MINHASH_SEEDS = 8
_MINHASH_BANDS = 4  # 2 hashes per band
_MAX_BUCKET = 64  # LSH degenerate-bucket cap (boilerplate shingle sets)


def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs, hand-rolled from
    built-ins (no Spark ML pipeline, no UDFs):

    shingle -> 8 seeded xxhash64 min-hashes per doc -> 4 bands of 2 ->
    band-bucket equi-join -> distinct (a < b) pairs.

    Docs sharing any band collide; with 8 hashes / 4 bands the collision
    probability curve is steep around ~0.6 Jaccard. The join is keyed on
    (band_idx, band_hash): that is the LSH trick that replaces O(n²)
    all-pairs with keyed shuffles. Verified structurally (pair symmetry /
    self-exclusion) in tests; no DuckDB oracle because xxhash64 is
    Spark-specific.

    Two scale guards (the difference between 17 s and 0.7 s at sf0.1, and
    between feasible and quadratic at 100 TB):

    * exact-duplicate groups collapse to one representative BEFORE
      hashing — identical texts share every band, so a group of k exact
      copies alone would emit k² /2 pairs that `ext_dedup_exact` already
      finds for free;
    * degenerate buckets (> _MAX_BUCKET members — boilerplate shingle
      sets) are dropped, the standard LSH cap. The cap is observable in
      the `n_capped_buckets` column of tests, not silent.

    This raw pair-producing form is the engine API; the registered
    `ext_dedup_near_minhash` query wraps it in driver-hashable structural
    invariants (xxhash64 has no DuckDB twin, so the pair set itself has
    no exact oracle)."""
    d = load_table(spark, sf_dir, "documents")
    reps = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text")
    )
    # BIGRAM shingles — the identical feature space the ngram-Jaccard
    # verifier scores. Hashing unigram TOKEN sets here (as an earlier
    # version did) collapses the LSH into degenerate buckets on a small
    # vocabulary: many docs share the globally-minimal token hash, the
    # bucket cap evicts the giant buckets, and true j≈0.99 pairs vanish
    # (ext_dedup_recall_eval measured 7/52 recall; bigrams: 52/52).
    tok = (
        reps.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(bigram_shingles("toks")).alias("tok"))
    )
    mins = minhash_signatures_from_shingles(tok)
    return candidate_pairs_from_signatures(mins)


def minhash_signatures_from_shingles(tok: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{N-1}) seeded-xxhash64 minhash signatures from an
    exploded (doc_id, tok) shingle stream — the ONE signature definition
    shared by the from-text pipeline and the persisted store
    (curation.signature_store_path); a seed-count change here flows to
    both or breaks the store's sig_width oracle loudly."""
    return tok.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(s), F.col("tok"))).alias(f"mh{s}")
            for s in range(_MINHASH_SEEDS)
        ]
    )


def signature_bands(mins: DataFrame) -> DataFrame:
    """(doc_id, band, h) banded LSH keys from a signature frame — the
    ONE banding definition shared by the pair join below and the
    streaming near-dup gate (curation.stream_dedup_minhash), so the
    geometry cannot drift between batch and streaming tiers."""
    return mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")
                        ).alias("h"),
                    )
                    for b in range(_MINHASH_BANDS)
                ]
            )
        ).alias("bh"),
    ).select("doc_id", "bh.band", "bh.h")


def candidate_pairs_from_signatures(mins: DataFrame) -> DataFrame:
    """Banded LSH candidate pairs from a signature frame — shared by the
    from-text pipeline, the store-reading query, and the store-parity
    test, so the banding geometry cannot drift between them."""
    bands = signature_bands(mins)
    ok_buckets = (
        bands.groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter((F.col("sz") > 1) & (F.col("sz") <= _MAX_BUCKET))
        .select("band", "h")
    )
    bands = bands.join(ok_buckets, ["band", "h"], "left_semi")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "ext_dedup_near_minhash",
    oracle="""
    SELECT (SELECT COUNT(*) FROM (
              SELECT MIN(doc_id) FROM documents GROUP BY md5(text))) AS n_reps,
           CAST(0 AS BIGINT) AS order_violations,
           CAST(0 AS BIGINT) AS non_rep_endpoints,
           CAST(0 AS BIGINT) AS identical_text_pairs
    """,
)
def ext_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of :func:`minhash_candidate_pairs`.

    The candidate-pair set depends on Spark's xxhash64 (no DuckDB twin),
    so the oracle is self-validating: Spark runs the full LSH pipeline
    and reduces it to structural invariants the oracle states exactly —

    * ``n_reps``: how many exact-dup-group representatives enter the LSH
      stage (the oracle recomputes this exactly from md5 groups, tying
      the collapse stage to an independent count);
    * ``order_violations``: pairs violating doc_a < doc_b (must be 0);
    * ``non_rep_endpoints``: endpoints that are not their group's keeper
      (must be 0 — exact dups were collapsed before hashing);
    * ``identical_text_pairs``: identical-text pairs leaking in as
      near-dup candidates (must be 0 — that is ext_dedup_exact's job).
    """
    d = load_table(spark, sf_dir, "documents")
    # materialize the candidate pairs ONCE — three invariant checks
    # consume them, and without this each action re-executes the whole
    # LSH pipeline (shingle -> minhash -> band join)
    pairs = minhash_candidate_pairs(spark, sf_dir).localCheckpoint(eager=True)
    reps = d.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    endpoints = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    stray = endpoints.distinct().join(reps, "doc_id", "left_anti")
    texted = (
        pairs.join(d.alias("x"), pairs.doc_a == F.col("x.doc_id"))
        .join(d.alias("y"), pairs.doc_b == F.col("y.doc_id"))
        .filter(F.expr("md5(x.text) = md5(y.text)"))
    )
    order_violations = int(
        pairs.agg(
            F.coalesce(
                F.sum(F.when(F.col("doc_a") >= F.col("doc_b"), 1)), F.lit(0)
            ).alias("v")
        ).collect()[0][0]
    )
    return spark.createDataFrame(
        [
            (
                reps.count(),
                order_violations,
                stray.count(),
                texted.count(),
            )
        ],
        "n_reps bigint, order_violations bigint, "
        "non_rep_endpoints bigint, identical_text_pairs bigint",
    )


_SKEW_REPLICAS = 10_000  # exact-copy arm: the k^2/2 blowup the collapse kills
_SKEW_VARIANTS = 96  # distinct-text arm: > _MAX_BUCKET, trips the bucket cap


def _capped_pairs_of(docs: DataFrame) -> DataFrame:
    """The full collapse -> shingle -> sign -> capped-band-join pipeline
    over an arbitrary (doc_id, text) frame — the same shared helpers the
    sf-table path composes, parameterized so the skew-stress key can run
    it over a synthetically skewed corpus."""
    reps = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text")
    )
    tok = reps.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode(bigram_shingles("toks")).alias("tok")
    )
    return candidate_pairs_from_signatures(
        minhash_signatures_from_shingles(tok)
    )


@query(
    "ext_dedup_skew_stress",
    oracle=f"""
    SELECT CAST({_SKEW_REPLICAS} AS BIGINT) AS n_exact_replicas,
           CAST((SELECT COUNT(DISTINCT md5(text)) FROM documents)
                + {_SKEW_VARIANTS} AS BIGINT) AS n_reps_skew,
           TRUE AS replica_rep_is_original,
           CAST(0 AS BIGINT) AS variant_pairs,
           TRUE AS variant_buckets_evicted,
           CAST(0 AS BIGINT) AS base_pair_mismatches
    """,
)
def ext_dedup_skew_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pathological-skew stress of the near-dup gate's two scale guards
    (round-10 VERDICT next #5) — the boilerplate-page distribution no sf
    fixture carries, synthesized INSIDE the query:

    * **exact-copy arm**: one real document's text replicated
      {_SKEW_REPLICAS}x under fresh doc_ids. Collapse-before-sign must
      fold the whole group into its ORIGINAL representative
      (`replica_rep_is_original`), so the LSH stage's input grows by
      ZERO rows — the oracle recomputes the rep count independently
      from md5 groups (`n_reps_skew`).
    * **cap arm**: {_SKEW_VARIANTS} DISTINCT texts ("phrase" repeated
      i+2 times) engineered to share one bigram-shingle SET — identical
      minhash signatures, one LSH bucket per band of > _MAX_BUCKET
      members. The bucket cap must evict those buckets
      (`variant_buckets_evicted`), so the variants emit ZERO candidate
      pairs (`variant_pairs`) instead of {_SKEW_VARIANTS}^2/2 — the
      documented eviction semantics, stated by the oracle, not silently
      sampled.
    * **isolation**: the skewed corpus's real-real candidate pairs must
      equal the unskewed corpus's pairs row for row
      (`base_pair_mismatches` = a REAL full-outer mismatch count) —
      10k replicas + 96 degenerate variants change NOTHING for everyone
      else.

    Scale: the replica arm costs one map-side-combinable md5 groupBy
    over the skewed frame; the variant arm's eviction is the existing
    `_MAX_BUCKET` filter doing its job. Pair cost stays
    candidate-shaped throughout — the key exists to prove the k^2/2
    blowup CANNOT come back silently."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    row = d.orderBy("doc_id").limit(1).collect()[0]
    seed_id, seed_text = int(row["doc_id"]), row["text"]
    max_id = int(d.agg(F.max("doc_id")).collect()[0][0])

    replicas = spark.range(_SKEW_REPLICAS).select(
        (F.lit(max_id + 1) + F.col("id")).alias("doc_id"),
        F.lit(seed_text).alias("text"),
    )
    phrase = "skewed boilerplate page"
    variants = spark.range(_SKEW_VARIANTS).select(
        (F.lit(max_id + 1 + _SKEW_REPLICAS) + F.col("id")).alias("doc_id"),
        F.concat_ws(
            " ",
            F.array_repeat(F.lit(phrase), (F.col("id") + 2).cast("int")),
        ).alias("text"),
    )
    first_variant_id = max_id + 1 + _SKEW_REPLICAS
    skewed = d.unionByName(replicas).unionByName(variants)

    from mongodb_cdc_spark.operators._util import run_parallel

    # the skewed-corpus and clean-corpus pair pipelines plus the two
    # scalar probes are independent — overlap them (guide §2.6)
    pairs_skew, pairs_base, n_reps_skew, rep_of_seed_group = run_parallel(
        lambda: _capped_pairs_of(skewed).localCheckpoint(eager=True),
        lambda: _capped_pairs_of(d).localCheckpoint(eager=True),
        lambda: int(
            skewed.agg(F.countDistinct(F.md5("text"))).collect()[0][0]
        ),
        lambda: int(
            skewed.filter(F.md5("text") == F.md5(F.lit(seed_text)))
            .agg(F.min("doc_id"))
            .collect()[0][0]
        ),
    )
    variant_pairs = int(
        pairs_skew.filter(
            (F.col("doc_a") >= first_variant_id)
            & (F.col("doc_b") >= first_variant_id)
        ).count()
    )
    # every band bucket holding a variant must exceed the cap (that is
    # WHY variant_pairs is 0 — eviction, not luck): recompute the band
    # table over the skewed reps and measure variant buckets directly
    sreps = skewed.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text")
    )
    sbands = signature_bands(
        minhash_signatures_from_shingles(
            sreps.select("doc_id", tokens("text").alias("toks")).select(
                "doc_id", F.explode(bigram_shingles("toks")).alias("tok")
            )
        )
    )
    vb = (
        sbands.groupBy("band", "h")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.max(
                (F.col("doc_id") >= first_variant_id).cast("int")
            ).alias("has_variant"),
        )
        .filter(F.col("has_variant") == 1)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(F.min("sz"), F.lit(0)).alias("min_sz"),
        )
        .collect()[0]
    )
    variant_buckets_evicted = (
        int(vb["n_buckets"]) > 0 and int(vb["min_sz"]) > _MAX_BUCKET
    )
    real_skew_pairs = pairs_skew.filter(
        (F.col("doc_a") <= max_id) & (F.col("doc_b") <= max_id)
    )
    base_pair_mismatches = int(
        real_skew_pairs.withColumn("l_present", F.lit(1))
        .join(
            pairs_base.withColumn("r_present", F.lit(1)),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        .filter(F.col("l_present").isNull() | F.col("r_present").isNull())
        .count()
    )
    return spark.createDataFrame(
        [
            (
                _SKEW_REPLICAS,
                n_reps_skew,
                rep_of_seed_group == seed_id,
                variant_pairs,
                variant_buckets_evicted,
                base_pair_mismatches,
            )
        ],
        "n_exact_replicas bigint, n_reps_skew bigint, "
        "replica_rep_is_original boolean, variant_pairs bigint, "
        "variant_buckets_evicted boolean, base_pair_mismatches bigint",
    )


def simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature per doc (bit-wise majority vote
    over token hashes, computed as 64 conditional-sum aggregates — one
    shuffle of 64 small ints per doc), then candidate pairs via 16-bit
    band join with Hamming distance <= 3 (bit_count(xor)).

    Per-doc signatures + banded pair join: same LSH scale shape as
    MinHash, cheaper signatures, Hamming verify instead of Jaccard.

    Exact-duplicate groups collapse to one representative BEFORE
    signing — the same scale guard as MinHash (identical texts have
    identical signatures, so a k-copy group alone would emit k²/2
    Hamming-0 pairs that `ext_dedup_exact` already finds for free; the
    10x-replica rehearsal measured 4.3x super-linear growth from exactly
    this before the guard). Pairs are therefore between DISTINCT texts.

    Raw pair-producing engine API; the registered `ext_dedup_simhash`
    query wraps it in driver-hashable invariants."""
    d = load_table(spark, sf_dir, "documents")
    reps = d.groupBy(F.md5("text").alias("md5h")).agg(
        F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text")
    )
    tok = reps.select("doc_id", F.explode(tokens("text")).alias("tok")).withColumn(
        "h", F.xxhash64("tok")
    )
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    sig = bit_sums.select(
        "doc_id",
        F.expr(
            " + ".join(
                f"(CASE WHEN b{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END)"
                for b in range(64)
            )
        ).alias("simhash"),
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("h"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bh"),
    ).select("doc_id", "simhash", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= 3)


@query(
    "ext_dedup_simhash",
    oracle=f"""
    SELECT (SELECT COUNT(DISTINCT md5(text)) FROM documents
            WHERE len({tokens_sql('text')}) > 0) AS n_signed_reps,
           CAST(0 AS BIGINT) AS order_violations,
           CAST(0 AS BIGINT) AS hamming_violations,
           CAST(0 AS BIGINT) AS non_rep_endpoints,
           CAST(0 AS BIGINT) AS identical_text_pairs
    """,
)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of :func:`simhash_candidate_pairs`
    (xxhash64 signatures have no DuckDB twin). Same rep-level contract
    as `ext_dedup_near_minhash`: exact-dup groups collapse to their min
    doc_id before signing, so pairs relate DISTINCT texts and within-
    group pairs are `ext_dedup_exact`'s job. Invariants:

    * ``n_signed_reps``: every tokenizable distinct text got exactly one
      signature (oracle recomputes the distinct-md5 count independently);
    * ``order_violations`` / ``hamming_violations``: doc_a < doc_b and
      Hamming <= 3 respected (must be 0);
    * ``non_rep_endpoints``: every pair endpoint is its text group's min
      doc_id (must be 0);
    * ``identical_text_pairs``: no emitted pair joins two identical
      texts (must be 0 — reps are distinct texts by construction)."""
    d = load_table(spark, sf_dir, "documents")
    # materialize ONCE — four invariant checks consume the pairs, and the
    # signing pipeline (64 conditional sums + band join) is the expensive
    # part; without this each action re-executes it from the scan
    pairs = simhash_candidate_pairs(spark, sf_dir).localCheckpoint(eager=True)
    n_signed = (
        d.filter(F.size(tokens("text")) > 0)
        .select(F.md5("text"))
        .distinct()
        .count()
    )
    rep_ids = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    endpoints = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    non_rep = endpoints.join(rep_ids, "doc_id", "left_anti")
    texts = d.select("doc_id", F.md5("text").alias("md5h"))
    same_text = (
        pairs.join(texts.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("md5h", "md5_a")
        .join(texts.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .filter(F.col("md5_a") == F.col("md5h"))
    )
    viol = pairs.agg(
        F.coalesce(
            F.sum(F.when(F.col("doc_a") >= F.col("doc_b"), 1)), F.lit(0)
        ).alias("order_v"),
        F.coalesce(F.sum(F.when(F.col("hamming") > 3, 1)), F.lit(0)).alias(
            "hamming_v"
        ),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                n_signed,
                int(viol["order_v"]),
                int(viol["hamming_v"]),
                non_rep.count(),
                same_text.count(),
            )
        ],
        "n_signed_reps bigint, order_violations bigint, "
        "hamming_violations bigint, non_rep_endpoints bigint, "
        "identical_text_pairs bigint",
    )


# ---------------------------------------------------- similarity search ----


@query(
    "ext_sim_cosine_topk",
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY {cosine_unrolled_sql('embedding', 'p', dialect='duck')} DESC,
                              vec_id ASC) AS rank
    FROM embeddings, probe
    WHERE vec_id <> 0
    ORDER BY rank
    LIMIT 10
    """,
)
def ext_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 around probe vec_id=0 (ids + rank only;
    no floats hashed). The probe is a broadcast single row; similarity is
    the unrolled bit-exact expression (functions/vectors.py), so rank
    order is identical across engines; vec_id tiebreak closes rank ties.
    This is the baseline ANN path — `ext_sim_ann_ivf` is the scale path."""
    e = load_table(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.expr(cosine_unrolled_sql("embedding", "p")).alias("cos"),
        )
    )
    # Top-k via sort+limit -> TakeOrderedAndProject (per-partition heaps of
    # k rows, merged on the driver) — NOT a global row_number window, which
    # funnels every scored row through one WindowExec task and is the
    # classic "fine at sf0.1, dies at 100x" plan. Only the 10 survivors are
    # then ranked; the constant (but non-foldable — a literal would be
    # constant-folded away) pmod partition keeps the tiny window's
    # partition spec defined: no unpartitioned-WindowExec plan, no warning.
    top = scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(10)
    w = Window.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("vec_id", "rank")
    )


@query(
    "ext_embed_neardup_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(FLOOR({cosine_unrolled_sql('a.embedding', 'b.embedding', dialect='duck')} * 1000000) AS BIGINT)
             AS cos_e6,
           ({cosine_unrolled_sql('a.embedding', 'b.embedding', dialect='duck')} > 0.5) AS is_neardup
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def ext_embed_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection over candidate pairs
    (adjacent ids as the stand-in pair generator). Because the cosine
    expression is bit-exact cross-engine, even its e6-scaled floor and the
    threshold flag hash-match exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    cos = F.expr(cosine_unrolled_sql("a.embedding", "b.embedding"))
    return a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.floor(cos * 1000000).cast("bigint").alias("cos_e6"),
        (cos > 0.5).alias("is_neardup"),
    )


_IVF_K = 8


def ivf_assignments(e: DataFrame, cents: DataFrame | None = None) -> DataFrame:
    """``vec_id -> (bucket, embedding)``: nearest-of-K-centroid
    assignment, shared verbatim by :func:`ann_ivf_topk` (per-query) and
    :func:`ivf_store_path` (persisted). Broadcast map-side pass over the
    K=8 centroid rows + ONE map-side-combinable
    ``max(struct(sim, -cent_id, embedding))`` hash aggregate — argmin
    over K without a per-vector row_number window (which would shuffle
    N*K rows into WindowExec). Ties break to the lowest cent_id, the
    same ``(dot DESC, cent_id ASC)`` order every oracle states.

    ``cents`` (``cent_id``, ``cent``) overrides the default
    derive-from-``e`` centroids — the refresh path assigns an ingest
    wave against the store's FIXED centroid version, and the wave frame
    does not contain the centroid rows."""
    if cents is None:
        cents = e.filter(F.col("vec_id") < _IVF_K).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
        )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        dot("embedding", "cent").alias("sim"),
    )
    best = F.max(
        F.struct(
            F.col("sim"),
            (-F.col("cent_id")).alias("neg_cent"),
            F.col("embedding"),
        )
    )
    return scored.groupBy("vec_id").agg(
        (-best.getField("neg_cent")).cast("int").alias("bucket"),
        best.getField("embedding").alias("embedding"),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic seed centroids (vec_id < 8), assign
    every vector to its nearest centroid, then search ONLY the probe's
    bucket for top-10 by cosine.

    The scale story, stage by stage:

    * assignment is a broadcast map-side pass (8 centroid rows) followed
      by a map-side-combinable ``max(struct(sim, -cent_id, embedding))``
      aggregate — argmin over K as ONE hash aggregate, not a per-vector
      row_number window (which would shuffle N*K rows into WindowExec);
    * bucket search touches ~1/K of the corpus;
    * the final top-10 is sort+limit -> TakeOrderedAndProject
      (per-partition heaps), never a global window.

    Raw engine API; the registered `ext_sim_ann_ivf` wraps it in
    driver-hashable invariants. Recall vs brute force is also measured in
    tests against `ext_sim_cosine_topk`."""
    e = load_table(spark, sf_dir, "embeddings")
    # argmax by (sim, -cent_id): lexicographic struct max picks the highest
    # similarity, lowest centroid id on ties — deterministic, and the
    # embedding rides along in the struct so no second join is needed.
    assigned = ivf_assignments(e)
    probe = assigned.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("p"), F.col("bucket").alias("probe_bucket")
    )
    cands = assigned.join(
        F.broadcast(probe),
        (F.col("bucket") == F.col("probe_bucket")) & (F.col("vec_id") != 0),
    )
    top = (
        cands.select("vec_id", "bucket", cosine("embedding", "p").alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    w = Window.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("vec_id", "bucket", "rank")
    )


@query(
    "ext_sim_ann_ivf",
    oracle="""
    SELECT TRUE AS got_results,
           TRUE AS one_bucket,
           TRUE AS ranks_consecutive,
           TRUE AS recall_positive
    """,
)
def ext_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of :func:`ann_ivf_topk` (the multi-stage
    argmin pipeline has no clean single-SQL twin). Invariants, all
    computed Spark-side and stated exactly by the oracle:

    * ``got_results``: 1-10 neighbours returned (bucket may hold < 10
      vectors at tiny scale factors);
    * ``one_bucket``: every result sits in the probe's bucket — the
      defining IVF property;
    * ``ranks_consecutive``: ranks are exactly 1..n with no gaps/dups;
    * ``recall_positive``: the bucket search finds at least one of the
      brute-force top-10 (`ext_sim_cosine_topk` recomputed here) — a
      weak-but-real recall floor for a 1/K-corpus probe."""
    ivf = ann_ivf_topk(spark, sf_dir).collect()
    brute = {r.vec_id for r in ext_sim_cosine_topk(spark, sf_dir).collect()}
    n = len(ivf)
    ranks = sorted(r.rank for r in ivf)
    return spark.createDataFrame(
        [
            (
                1 <= n <= 10,
                len({r.bucket for r in ivf}) == 1,
                ranks == list(range(1, n + 1)),
                len({r.vec_id for r in ivf} & brute) > 0,
            )
        ],
        "got_results boolean, one_bucket boolean, "
        "ranks_consecutive boolean, recall_positive boolean",
    )


# --------------------------------------------------------------------------
# maintenance_ivf_store / ext_sim_ann_from_store — persisted IVF index
# --------------------------------------------------------------------------

_IVF_STORE_NPROBE = 3  # the measured operating point (ext_sim_ivf_multiprobe_recall)


def ivf_store_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, stage-then-rename) and return the persisted IVF
    index for ``sf_dir``: every vector's centroid assignment, written
    ``partitionBy("bucket")`` so a probe search reads ONLY its probed
    buckets — partition pruning makes the nprobe/K candidate fraction
    an I/O fraction, which is how an IVF index shards at 100 TB (each
    bucket is a directory a 1000-executor scan prunes by name, no
    manifest needed). Same once-per-corpus stage-then-rename discipline
    as `signature_store_path`; K is part of the cache key so a geometry
    bump can never serve a stale-width index."""
    import os as _os

    from mongodb_cdc_spark.sources.changefeed import scratch_root

    sf_name = _os.path.basename(_os.path.normpath(sf_dir))
    path = _os.path.join(scratch_root(), f"ivf_store_{sf_name}_k{_IVF_K}_v1")
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        e = load_table(spark, sf_dir, "embeddings")
        stage = new_stage(path)
        ivf_assignments(e).write.mode("overwrite").partitionBy("bucket").parquet(
            stage
        )
        publish_store(stage, path)
    return path


_IVF_STORE_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cent
      FROM embeddings WHERE vec_id < {_IVF_K}
    ),
    assigned AS (
      SELECT vec_id, cent_id AS bucket FROM (
        SELECT e.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {dot_unrolled_sql('e.embedding', 'c.cent', dialect='duck')} DESC,
                          c.cent_id ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) t WHERE rn = 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM assigned GROUP BY bucket ORDER BY bucket ASC
"""


@query("maintenance_ivf_store", oracle=_IVF_STORE_ORACLE)
def maintenance_ivf_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the IVF centroid assignments (bucket-partitioned parquet,
    `ivf_store_path`) and read back the per-bucket histogram — the
    maintenance step that turns `ext_sim_ann_ivf`'s per-query full-corpus
    assignment pass into a one-time ingest cost, completing the
    maintained-store tier (MinHash signatures / semantic projections /
    co-order edges) for the similarity tier.

    The oracle recomputes every assignment from scratch in DuckDB
    (same unrolled left-associative dot, same lowest-cent_id tiebreak)
    and compares the full per-bucket histogram — any assignment drift
    between the persisted index and the declared semantics moves a
    vector between buckets and breaks the hash. The histogram is also
    the operational skew check: a degenerate centroid seeding shows up
    here as one fat bucket (the signal to re-seed, exactly like the
    capped-LSH-bucket signal)."""
    store = spark.read.parquet(ivf_store_path(spark, sf_dir))
    return (
        store.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("bucket")
    )


# Every CTE AS MATERIALIZED — duck-only string; multi-consumer CTEs
# (`cents` x2, `probe` x2) otherwise re-inline the unrolled dot per
# consumer (the r6/r7 oracle-OOM class; audit: tools/audit_oracle_ctes.py).
_ANN_FROM_STORE_ORACLE = f"""
    WITH cents AS MATERIALIZED (
      SELECT vec_id AS cent_id, embedding AS cent
      FROM embeddings WHERE vec_id < {_IVF_K}
    ),
    probe AS MATERIALIZED (
      SELECT embedding AS p FROM embeddings WHERE vec_id = 0
    ),
    pbuckets AS MATERIALIZED (
      SELECT cent_id FROM (
        SELECT c.cent_id,
               ROW_NUMBER() OVER (
                 ORDER BY {dot_unrolled_sql('pr.p', 'c.cent', dialect='duck')} DESC,
                          c.cent_id ASC) AS cr
        FROM cents c CROSS JOIN probe pr
      ) t WHERE cr <= {_IVF_STORE_NPROBE}
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, embedding, cent_id AS bucket FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {dot_unrolled_sql('e.embedding', 'c.cent', dialect='duck')} DESC,
                          c.cent_id ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    cand AS MATERIALIZED (
      SELECT a.vec_id, a.bucket,
             {cosine_unrolled_sql('a.embedding', 'pr.p', dialect='duck')} AS c
      FROM assigned a
      JOIN pbuckets pb ON a.bucket = pb.cent_id
      CROSS JOIN probe pr
      WHERE a.vec_id <> 0
    )
    SELECT rk, vec_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(FLOOR(c * 1000000) AS BIGINT) AS cos_e6
    FROM (SELECT vec_id, bucket, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, vec_id ASC) AS rk
          FROM cand)
    WHERE rk <= 10 ORDER BY rk ASC
"""


@query("ext_sim_ann_from_store", oracle=_ANN_FROM_STORE_ORACLE)
def ext_sim_ann_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production ANN probe: top-10 neighbours of probe vec_id=0 served
    from the persisted IVF index at the MEASURED nprobe=3 operating
    point (`ext_sim_ivf_multiprobe_recall`: 23% -> 57% mean recall) —
    the from-store twin of `ext_sim_ann_ivf`, and the query shape a
    100 TB deployment actually runs: no assignment pass, no corpus
    scan, just

    * rank the K=8 broadcast centroids against the probe (bounded:
      nprobe rows collected, the documented <=3-row scalar pattern);
    * read ONLY those bucket directories from the bucket-partitioned
      store — the literal IN-list lands in the scan's PartitionFilters
      (plan-pinned), so I/O is nprobe/K of the index at any scale;
    * exact cosine + TakeOrderedAndProject over the pruned candidates.

    The oracle replays the whole path (probe buckets, assignments,
    bucket-restricted top-10) from the raw embeddings table, so a stale
    or drifted store breaks the hash. Scores ship as FLOOR(c*1e6)
    BIGINTs (ranking floats never leave the ORDER BY; ties break by
    vec_id)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    ranked = (
        probe.crossJoin(F.broadcast(cents))
        .select("cent_id", dot("p", "cent").alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("cent_id").asc())
        .limit(_IVF_STORE_NPROBE)
    )
    # bounded driver-side scalars: exactly nprobe (=3) bucket ids, so the
    # partition filter below is a literal IN-list the scan can prune on.
    buckets = [int(r.cent_id) for r in ranked.collect()]
    store = spark.read.parquet(ivf_store_path(spark, sf_dir))
    cand = (
        store.filter(F.col("bucket").isin(buckets) & (F.col("vec_id") != 0))
        .crossJoin(F.broadcast(probe))
        .select("vec_id", "bucket", cosine("embedding", "p").alias("c"))
    )
    top = cand.orderBy(F.col("c").desc(), F.col("vec_id").asc()).limit(10)
    w = Window.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy(
        F.col("c").desc(), F.col("vec_id").asc()
    )
    return top.select(
        F.row_number().over(w).alias("rk"),
        "vec_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.floor(F.col("c") * 1000000).cast("bigint").alias("cos_e6"),
    ).orderBy("rk")


@query(
    "maintenance_ivf_refresh",
    oracle=f"""
    WITH cut AS (SELECT (MAX(vec_id) * 9) // 10 AS c FROM embeddings)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
             AS n_assignments,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
            WHERE vec_id > (SELECT c FROM cut)) AS n_wave,
           CAST(0 AS BIGINT) AS merge_mismatches
    """,
)
def maintenance_ivf_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-store refresh, verified against the full build:
    split the corpus at the 90th-percentile vec_id (the same
    append-only-ingest-wave stand-in as `maintenance_signature_refresh`),
    assign the base normally, assign ONLY the wave vectors against the
    store's FIXED centroids, and union. ``merge_mismatches``
    (full-outer-join rows vs the persisted store where the bucket
    differs or a vector is missing on either side) proves merged ==
    from-scratch at 0, hash-checked.

    This store's wave algebra is the STRONGEST of the maintained tier,
    and the docstring contract says why: assignment is per-vector
    independent given a centroid version (no group representatives as
    in the signature store, no global ranks as in the rebuild-only
    projection store), so refresh is exactly additive — assign the
    wave (wave x K broadcast rows), append its rows to the bucket
    directories, done. Centroids themselves are part of the store's
    version key (`ivf_store_path` ..._k{{K}}_v1): re-training them is a
    new index version + rebuild, never an in-place mutation — the
    Faiss/SCANN operational contract.

    Scale: steady-state cost is the wave-sized broadcast-assign + a
    per-bucket append; the full-corpus assignment happens once at
    bootstrap. Nothing here shuffles the base."""
    e = load_table(spark, sf_dir, "embeddings")
    cutoff = int(
        e.agg(F.expr("(MAX(vec_id) * 9) div 10").alias("c")).first()["c"]
    )  # bounded 1-row scalar
    cents = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    base = ivf_assignments(e.filter(F.col("vec_id") <= cutoff), cents=cents)
    wave = ivf_assignments(e.filter(F.col("vec_id") > cutoff), cents=cents)
    merged = base.unionByName(wave)
    store = spark.read.parquet(ivf_store_path(spark, sf_dir)).select(
        "vec_id", F.col("bucket").alias("sbucket")
    )
    joined = merged.select("vec_id", "bucket").join(store, "vec_id", "full_outer")
    checks = joined.agg(
        F.sum(
            F.when(~F.col("bucket").eqNullSafe(F.col("sbucket")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("merge_mismatches")
    )
    return (
        merged.agg(F.count(F.lit(1)).cast("bigint").alias("n_assignments"))
        .crossJoin(wave.agg(F.count(F.lit(1)).cast("bigint").alias("n_wave")))
        .crossJoin(checks)
        .select("n_assignments", "n_wave", "merge_mismatches")
    )


def write_vector_feed(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Materialize the embeddings corpus as an n-file parquet feed for
    the streaming ingest path (cached by (sf, n_files) — pure function
    of the input table, same discipline as ``write_change_log``)."""
    import os as _os

    from mongodb_cdc_spark.sources.changefeed import scratch_root

    sf_name = _os.path.basename(_os.path.normpath(sf_dir))
    path = _os.path.join(scratch_root(), f"vecfeed_{sf_name}_{n_files}")
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        e = load_table(spark, sf_dir, "embeddings")
        e.repartition(n_files).write.mode("overwrite").parquet(path)
    return path


@query("stream_ivf_ingest", oracle=_IVF_STORE_ORACLE)
def stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING index maintenance — the ingest story the maintained
    IVF store runs at 100 TB: vectors arrive as an unbounded feed
    (``maxFilesPerTrigger=1`` forces several micro-batches), each
    micro-batch is assigned against the FIXED broadcast centroids
    inside ``foreachBatch`` (stream-static: the wave algebra of
    `maintenance_ivf_refresh` applied per batch), and appended to a
    bucket-partitioned target. The final per-bucket histogram must
    equal the batch-built store's — SAME oracle as
    `maintenance_ivf_store` — proving continuous ingest converges to
    the batch build exactly.

    Exactly-once by idempotence, the engine-wide sink contract: each
    batch writes ``mode("overwrite")`` into its own ``batch=<id>``
    directory, so a foreachBatch retry replaces its own output instead
    of duplicating rows (at-least-once delivery + idempotent apply =
    stable fixpoint). The run is SUPERVISED (`run_supervised`, the
    reference's R10 restart-from-resume-token contract, js:286-299):
    the checkpoint is FIXED across restarts, so a transient
    foreachBatch failure (a killed Python worker under container
    memory pressure — observed once in a late-window driver gate)
    resumes from the last committed batch and the idempotent per-batch
    overwrite makes the replay safe. Scale: per-batch cost is batch x
    K broadcast rows, nothing reshuffles previously ingested data; the
    target layout (batch=N/bucket=B) is readable by the same
    partition-pruning probe as the store."""
    from mongodb_cdc_spark.streaming.pipeline import (
        new_scratch_dir,
        run_supervised,
    )

    feed = write_vector_feed(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    target = new_scratch_dir("ivf_ingest_target")
    ckpt = new_scratch_dir("ivf_ingest_ckpt")

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        ivf_assignments(bdf, cents=cents).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(f"{target}/batch={batch_id}")

    def start_query():
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        return (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run_supervised(start_query, max_restarts=2, restart_delay_s=1.0)
    built = spark.read.parquet(target)
    return (
        built.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("bucket")
    )


_LSH_PROBES = 32
_LSH_MAX_BUCKET = 256  # degenerate-bucket guard, mirrored in the oracle


def _lsh_bits_sql(arr: str, dialect: str) -> str:
    """16 signature-bit SELECT items (``bit0`` .. ``bit15``)."""
    return ",\n           ".join(
        f"CASE WHEN ({lsh_bit_sum_sql(b, arr, dialect=dialect)}) > 0 "
        f"THEN 1 ELSE 0 END AS bit{b}"
        for b in range(LSH_BITS)
    )


def _lsh_band_exprs() -> list:
    """Band hash columns h0..h3: 4 bits each, packed big-endian."""
    return [
        (
            F.col(f"bit{4 * k}") * 8
            + F.col(f"bit{4 * k + 1}") * 4
            + F.col(f"bit{4 * k + 2}") * 2
            + F.col(f"bit{4 * k + 3}")
        ).alias(f"h{k}")
        for k in range(LSH_BANDS)
    ]


# MATERIALIZED on the multi-consumer CTEs (`reps` x3, `sig` x4 via the
# band UNION ALL, `bands` x3) — same duck OOM-class hardening.
_LSH_TOPK_ORACLE = f"""
    WITH reps AS MATERIALIZED (
      SELECT MIN(vec_id) AS vec_id, embedding
      FROM embeddings GROUP BY embedding
    ), sig AS MATERIALIZED (
      SELECT vec_id,
           {_lsh_bits_sql('embedding', 'duck')}
      FROM reps
    ), bands AS MATERIALIZED (
      {" UNION ALL ".join(
          f"SELECT vec_id, {k} AS band, "
          f"bit{4 * k} * 8 + bit{4 * k + 1} * 4 + bit{4 * k + 2} * 2 "
          f"+ bit{4 * k + 3} AS h FROM sig"
          for k in range(LSH_BANDS)
      )}
    ), kept AS MATERIALIZED (
      SELECT band, h FROM bands GROUP BY band, h
      HAVING COUNT(*) <= {_LSH_MAX_BUCKET}
    ), cand AS MATERIALIZED (
      SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
      FROM bands p JOIN kept USING (band, h)
      JOIN bands c ON p.band = c.band AND p.h = c.h
                  AND p.vec_id <> c.vec_id
      WHERE p.vec_id < {_LSH_PROBES}
    ), scored AS (
      SELECT probe_id, neighbor_id,
             {cosine_unrolled_sql('x.embedding', 'y.embedding', dialect='duck')} AS c
      FROM cand JOIN reps x ON x.vec_id = probe_id
                JOIN reps y ON y.vec_id = neighbor_id
    )
    SELECT probe_id, rk, neighbor_id, CAST(FLOOR(c * 1000000) AS BIGINT) AS cos_e6
    FROM (SELECT probe_id, neighbor_id, c,
                 ROW_NUMBER() OVER (PARTITION BY probe_id
                                    ORDER BY c DESC, neighbor_id ASC) AS rk
          FROM scored)
    WHERE rk <= 3
"""


@query("ext_sim_lsh_topk", oracle=_LSH_TOPK_ORACLE)
def ext_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signatures (16 sign bits),
    4-band bucket join, exact-cosine rank of each probe's bucket-mates —
    top-3 neighbours for the first 32 vec_ids. The third ANN tier next to
    brute force (`ext_sim_cosine_topk`) and IVF (`ext_sim_ann_ivf`).

    Unlike the MinHash/SimHash text ops (xxhash64 signatures, invariant
    oracles), this pipeline is EXACTLY mirrored in DuckDB: the ±1
    hyperplanes are literal constants (functions/vectors.py
    ``hyperplane_sign``) and each sign bit is a left-associative IEEE
    double sum — the same determinism argument as the unrolled cosine —
    so signatures, buckets, candidates, and ranks all hash-match.

    Scale shape: exact-duplicate vectors collapse to a representative
    (min vec_id per identical embedding) BEFORE hashing — without this,
    duplicate-heavy corpora blow every bucket past the cap and recall
    cliffs to zero (measured: the 100x replica returned 0 rows pre-fix,
    SCALING.md); the collapse is the same group-first discipline as the
    MinHash pipeline. Signatures are then one map-side pass (O(bits x
    dim) per row); the band join shuffles (band, h) keys only; the
    degenerate-bucket guard drops buckets > 256 before the join
    (bucket population grows linearly with corpus at fixed band width —
    production widens bands with scale, the cap bounds the worst case
    either way); bucket membership counts are <= bands x 2^4 rows,
    broadcast. The rank window partitions by probe_id — bounded by the
    probe set, never the corpus.
    """
    # Dup-collapse ONCE and materialize: `e` feeds three plan arms (the
    # signature pass and both cosine-score sides). Without the checkpoint
    # the groupBy-on-array shuffle re-runs per arm — the r3 recall fix
    # added exactly that and cost 1.31x (BENCH_r03 6.13 s vs r2 4.69 s);
    # at scale this is the dedup'd vector table you'd persist anyway.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("embedding")
        .agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    bit_cols = [
        F.when(
            F.expr(lsh_bit_sum_sql(b, "embedding", dialect="spark")) > 0, 1
        )
        .otherwise(0)
        .alias(f"bit{b}")
        for b in range(LSH_BITS)
    ]
    sig = e.select("vec_id", *bit_cols).select("vec_id", *_lsh_band_exprs())
    # Materialize the signature table ONCE: `bands` feeds three plan arms
    # (bucket counts, probe side, neighbor side), and the 16 x 64-term
    # sign expressions are far too big for whole-stage codegen — without
    # this they re-evaluate interpreted once per arm (measured 3x the
    # query cost at sf0.1). At scale this is the signature table you'd
    # persist anyway before the band join.
    bands = (
        sig.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(k).alias("band"), F.col(f"h{k}").alias("h"))
                        for k in range(LSH_BANDS)
                    ]
                )
            ).alias("bh"),
        )
        .select("vec_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
        .localCheckpoint(eager=True)
    )
    kept = (
        bands.groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _LSH_MAX_BUCKET)
        .select("band", "h")
    )
    probes = bands.filter(F.col("vec_id") < _LSH_PROBES).select(
        F.col("vec_id").alias("probe_id"), "band", "h"
    )
    cand = (
        probes.join(F.broadcast(kept), ["band", "h"])
        .join(bands.withColumnRenamed("vec_id", "neighbor_id"), ["band", "h"])
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    # cand is bounded (probes x bands x bucket-cap) — broadcast it against
    # the vector table instead of shuffling the vectors on the join key,
    # and broadcast the <= _LSH_PROBES-row probe-embedding side outright.
    scored = (
        e.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
        )
        .join(F.broadcast(cand), "neighbor_id")
        .join(
            F.broadcast(
                e.filter(F.col("vec_id") < _LSH_PROBES).select(
                    F.col("vec_id").alias("probe_id"),
                    F.col("embedding").alias("pe"),
                )
            ),
            "probe_id",
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.expr(cosine_unrolled_sql("pe", "ne")).alias("c"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "probe_id",
            "rk",
            "neighbor_id",
            F.floor(F.col("c") * 1000000).cast("bigint").alias("cos_e6"),
        )
    )


# ----------------------------------------------------------- multimodal ----


@query(
    "ext_multimodal_join",
    oracle=f"""
    SELECT lang, label, COUNT(*) AS n,
           {avg2_sql('n_chars', 'avg_chars')[1]}
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY lang, label
    """,
)
def ext_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified multimodal view: text table ⋈ embedding table on doc id,
    per-(lang, label) stats. Both sides co-shuffle on the id (or the
    embedding side broadcasts when it is the small modality)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang", "label")
        .agg(F.count(F.lit(1)).alias("n"), avg2("n_chars", "avg_chars"))
    )


@query(
    "ext_embed_quantize",
    oracle=f"""
    SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> CAST(GREATEST(-127, LEAST(127,
                  CAST(FLOOR(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))) AS INT)
           ), ',') AS q8_csv,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def ext_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (the storage-side prep for ANN at
    scale: 4x smaller vectors, SIMD-friendly dot products downstream).
    Symmetric scale-127 with explicit FLOOR(x*127+0.5) rounding and
    saturation — the whole transform is a per-element expression, exact
    in both engines (float32 -> double widening is lossless). The int8
    vector is emitted as a CSV string: array cells crash the driver's
    hasher (numpy.ndarray is unhashable), and the joined string is the
    same exact check."""
    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") * 127 + 0.5).cast("bigint"),
            ),
        ).cast("int"),
    )
    return e.select(
        "vec_id",
        F.array_join(q8.cast("array<string>"), ",").alias("q8_csv"),
        F.size("embedding").alias("dim"),
    )


@query(
    "ext_text_ngrams",
    oracle=f"""
    SELECT lang, gram, n FROM (
      SELECT lang, gram, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, gram ASC) AS rk
      FROM (
        SELECT lang,
               unnest(list_transform(
                 generate_series(1, length(text) - 2),
                 i -> substring(text, CAST(i AS INT), 3))) AS gram
        FROM documents
      )
      GROUP BY lang, gram
    ) WHERE rk <= 10
    """,
)
def ext_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 character trigrams per language — the feature extraction
    under real n-gram language ID. Trigram explosion happens in the scan
    stage (sequence + transform, pure codegen); only (lang, gram, count)
    partials shuffle. Total order (count DESC, gram ASC) makes the top-10
    set deterministic."""
    d = load_table(spark, sf_dir, "documents")
    # Guard: Spark's sequence(1, n) DESCENDS for n < 1 (yields [1, 0, ...])
    # while DuckDB's generate_series returns empty — texts shorter than 3
    # chars must produce no grams on both engines.
    offsets = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = d.select(
        "lang",
        F.explode(
            F.transform(offsets, lambda i: F.col("text").substr(i, F.lit(3)))
        ).alias("gram"),
    )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", "gram", "n")
    )


def exact_dup_pairs(d: DataFrame) -> DataFrame:
    """(doc_a=keeper, doc_b=member) star edges within each exact-duplicate
    (identical md5(text)) group — shared by the from-text and from-store
    cluster builds so their exact tier cannot drift."""
    return (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_a"), F.collect_set("doc_id").alias("members"))
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
    )


def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the union
    of exact-duplicate pairs and MinHash candidate pairs, via iterative
    min-label propagation to a fixpoint.

    This is the operator that turns pairwise dedup signals into the
    per-document keep/drop decision a corpus pipeline actually needs
    (keep cluster representative = min doc_id). Each iteration is one
    join + one min-aggregate, both keyed on doc_id — the classic
    large-graph CC-on-MapReduce shape; iterations are O(log diameter) and
    near-dup graphs are shallow (star-like), so 4-6 rounds close. Spark
    caching holds the frontier; convergence is checked with a count.
    Labels are deterministic (min over a deterministic edge set).
    Raw engine API returning (doc_id, label); the registered
    `ext_dedup_cluster` query wraps it in driver-hashable invariants
    (label <= doc_id, endpoints of every edge share a label,
    representatives label themselves)."""
    d = load_table(spark, sf_dir, "documents")
    near_pairs = minhash_candidate_pairs(spark, sf_dir)
    return cc_labels_over_docs(d, exact_dup_pairs(d).unionByName(near_pairs))


def dedup_cluster_labels_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-fed twin of :func:`dedup_cluster_labels`: identical label
    assignment (same edge set — the persisted signatures ARE the from-text
    signatures, parity-pinned in tests/test_curation.py), but the near-dup
    edges come from `candidate_pairs_from_signatures` over the persisted
    MinHash store (curation.signature_store_path) and the exact-tier
    star edges from the persisted dup map
    (curation.exact_dup_map_store_path) instead of re-running
    shingle -> xxhash64-minhash and md5-groupBy over the full text. At
    100 TB that is the production shape: clustering re-runs per corpus
    release, and this path scans ~72 bytes/doc of signatures plus a
    dup-count-sized edge table — no document text at all.

    Measured floor (SCALING.md round 6): the CC fixpoint itself (~4 s
    at sf0.1) is SHARED with the from-text twin, so this pair's bench
    ratio ceilings near 1.7x regardless of how cheap the stores get —
    the >=2x amortization lives in the edge-build tier, where BENCH's
    `ext_dedup_from_store` vs `ext_dedup_near_minhash` rows show it
    directly."""
    from mongodb_cdc_spark.operators.curation import (
        exact_dup_map_store_path,
        signature_store_path,
    )

    d = load_table(spark, sf_dir, "documents")
    store = spark.read.parquet(signature_store_path(spark, sf_dir))
    near_pairs = candidate_pairs_from_signatures(store)
    # exact tier from the persisted dup map (round 6): the from-store
    # path now reads NO document text — signatures for the near tier,
    # the star-edge map for the exact tier; only the final
    # isolated-doc join touches the documents table, and that is a
    # doc_id-pruned scan. Edge-set parity with exact_dup_pairs(d) is
    # by construction (the store IS that frame persisted) and pinned
    # in tests/test_curation.py.
    exact_pairs = spark.read.parquet(
        exact_dup_map_store_path(spark, sf_dir)
    )
    return cc_labels_over_docs(d, exact_pairs.unionByName(near_pairs))


def cc_labels_over_docs(d: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected-components core: min-label propagation with pointer
    jumping over ``edges`` (directed (doc_a, doc_b) frame, symmetrized
    here), then every doc in ``d`` joined back (isolated docs label
    themselves). Shared by the from-text and from-store cluster builds."""
    edges = edges.distinct()
    # undirected: propagate labels both ways. Materialize ONCE — the edge
    # set is re-joined every propagation round, and without this the whole
    # upstream MinHash LSH pipeline would re-execute per round (measured
    # ~8x the total cost at small SFs).
    sym = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    # Iterate ONLY over edge endpoints: an isolated doc's label is itself
    # and can never change, so carrying all |docs| rows through every
    # round (as the naive form does) multiplies each round's join/shuffle
    # by corpus size for zero information. In a dedup graph the endpoint
    # set is the duplicate minority — at 100 TB this is the difference
    # between rounds over ~1% of the corpus and rounds over all of it.
    # Isolated docs are joined back once, after the fixpoint.
    labels = (
        sym.select("doc_a").distinct().select(F.col("doc_a").alias("doc_id"))
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # Each round: (1) neighbor-min propagation, (2) POINTER JUMP — relabel
    # every node with its label's own label. Plain propagation converges
    # in O(diameter) rounds (a length-9 near-dup chain broke the old
    # fixed 8-round loop when the bigram-shingle LSH produced deeper
    # chains); with the jump, label paths halve each round, so
    # convergence is O(log diameter) and the 32-round cap is astronomical
    # headroom. Non-convergence RAISES — a silently-capped CC is a wrong
    # answer, not a slow one.
    for round_no in range(32):
        neighbor_min = (
            sym.join(labels, sym.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                "mid_label"
            ),
            F.col("label").alias("old_label"),
        )
        # pointer jump: mid_label is always some endpoint's doc_id, so the
        # self-join lookup is total; least() keeps monotone descent
        jump_map = stepped.select(
            F.col("doc_id").alias("jk"), F.col("mid_label").alias("jparent")
        )
        # carry the changed flag IN the round's frame: checkpoint cuts
        # lineage and materializes once, and the convergence check is
        # then a filter-count over the checkpointed rows — no extra
        # join-the-old-frame job per round.
        new_labels = (
            stepped.join(jump_map, stepped.mid_label == jump_map.jk, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("mid_label"), F.coalesce("jparent", "mid_label")
                ).alias("new_label"),
                "old_label",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("new_label") != F.col("old_label")
        ).count()
        labels = new_labels.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "dedup_cluster_labels: label propagation did not converge in "
            "32 pointer-jumped rounds — graph deeper than 2^32 is not a "
            "dedup graph; investigate the edge set"
        )
    return d.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )


@query(
    "ext_dedup_cluster",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT CAST(COALESCE(SUM((k * (k - 1)) // 2), 0) AS BIGINT)
              FROM (SELECT COUNT(*) AS k FROM documents GROUP BY md5(text)))
             AS n_exact_dup_pairs,
           CAST(0 AS BIGINT) AS label_gt_doc_violations,
           CAST(0 AS BIGINT) AS split_exact_dup_pairs,
           CAST(0 AS BIGINT) AS non_self_rep_labels
    """,
)
def ext_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of :func:`dedup_cluster_labels` (iterative
    fixpoint — no single-SQL twin). Connected-components invariants,
    computed Spark-side over the real label assignment:

    * ``n_docs``: one label per document (oracle: exact table count);
    * ``n_exact_dup_pairs``: the edge floor the oracle recomputes
      exactly from md5 group sizes;
    * ``label_gt_doc_violations``: labels are min-reachable ids, so
      label <= doc_id everywhere (must be 0);
    * ``split_exact_dup_pairs``: identical-text docs ending in different
      clusters (must be 0 — exact-dup edges are in the graph);
    * ``non_self_rep_labels``: labels that are not their own cluster's
      representative (must be 0).

    The pair counts are ARITHMETIC, never materialized: a k-member
    exact-dup group contributes k*(k-1)/2 pairs, of which the pairs whose
    endpoints share a label are sum over per-(group,label) counts c of
    c*(c-1)/2; split pairs are exactly the difference. An earlier version
    enumerated the pairs with an md5 self-join — quadratic in dup-group
    size (a 10^5-member boilerplate group at 100 TB is 10^10 rows from one
    key); the group-size aggregation below computes the identical values
    with one shuffle keyed on (hash, label), never wider than the corpus
    itself, and subsumes any bounded pairwise probe exactly."""
    return _cluster_invariants(spark, sf_dir, dedup_cluster_labels)


def _cluster_invariants(spark: SparkSession, sf_dir: str, labels_fn) -> DataFrame:
    """Reduce a (doc_id, label) cluster assignment to the five
    driver-hashable CC invariants — shared by `ext_dedup_cluster`
    (from-text) and `ext_dedup_cluster_from_store` (persisted
    signatures), which must produce identical rows."""
    from mongodb_cdc_spark.operators._util import run_parallel

    d = load_table(spark, sf_dir, "documents")
    # materialize ONCE — the fixpoint frontier is already checkpointed
    # inside the label build, but the final isolated-doc join is
    # not, and four invariant checks consume the labels
    labels = labels_fn(spark, sf_dir).localCheckpoint(eager=True)
    # per-(md5 group, label) member counts: labels covers every doc_id, so
    # the inner join is lossless; k = group size, same_pairs = pairs whose
    # two endpoints carry the same cluster label
    per_label = (
        d.select(F.md5("text").alias("h"), "doc_id")
        .join(labels, "doc_id")
        .groupBy("h", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_group = per_label.groupBy("h").agg(
        F.sum("c").alias("k"),
        F.sum(F.expr("c * (c - 1) div 2")).alias("same_pairs"),
    )
    non_self = (
        labels.select(F.col("label").alias("doc_id"))
        .distinct()
        .join(labels.filter(F.col("doc_id") == F.col("label")), "doc_id", "left_anti")
    )
    # the three invariant reductions are independent scans of the
    # checkpointed labels (+ the doc table for the pair stats) — run
    # them concurrently (guide §2.6)
    pair_stats, lab_stats, n_non_self = run_parallel(
        lambda: per_group.agg(
            F.coalesce(F.sum(F.expr("k * (k - 1) div 2")), F.lit(0)).alias(
                "total_pairs"
            ),
            F.coalesce(
                F.sum(F.expr("k * (k - 1) div 2 - same_pairs")), F.lit(0)
            ).alias("split_pairs"),
        ).collect()[0],
        lambda: labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("label") > F.col("doc_id"), 1)), F.lit(0)
            ).alias("gt_v"),
        ).collect()[0],
        lambda: non_self.count(),
    )
    return spark.createDataFrame(
        [
            (
                int(lab_stats["n"]),
                int(pair_stats["total_pairs"]),
                int(lab_stats["gt_v"]),
                int(pair_stats["split_pairs"]),
                n_non_self,
            )
        ],
        "n_docs bigint, n_exact_dup_pairs bigint, label_gt_doc_violations bigint, "
        "split_exact_dup_pairs bigint, non_self_rep_labels bigint",
    )


@query(
    "ext_dedup_cluster_from_store",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT CAST(COALESCE(SUM((k * (k - 1)) // 2), 0) AS BIGINT)
              FROM (SELECT COUNT(*) AS k FROM documents GROUP BY md5(text)))
             AS n_exact_dup_pairs,
           CAST(0 AS BIGINT) AS label_gt_doc_violations,
           CAST(0 AS BIGINT) AS split_exact_dup_pairs,
           CAST(0 AS BIGINT) AS non_self_rep_labels
    """,
)
def ext_dedup_cluster_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ext_dedup_cluster` fed from the PERSISTED MinHash signature store
    (:func:`dedup_cluster_labels_from_store`) instead of re-shingling the
    corpus text per run — the amortized production form (VERDICT-r4 item
    3). Same oracle as `ext_dedup_cluster` because the label assignment is
    identical by construction: the store rows ARE the from-text signatures
    (one shared `minhash_signatures_from_shingles` definition, parity
    test in tests/test_curation.py), so same bands -> same buckets ->
    same edges -> same fixpoint. The win is cost, not answers: the near-dup
    edge build reads 8 BIGINTs/doc from parquet; only the cheap exact-dup
    md5 groupBy still touches text."""
    return _cluster_invariants(spark, sf_dir, dedup_cluster_labels_from_store)


@query(
    "ext_data_split",
    oracle="""
    SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
    FROM (
      SELECT doc_id,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':split-seed-1'), 1, 8)) AS BIGINT) % 100 AS bucket
        FROM documents
      )
    )
    GROUP BY split
    """,
)
def ext_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by hashing the
    document id with a named seed — the reproducible-holdout primitive of
    every training-data pipeline. Hash bucketing beats rand(): stable
    across runs, engines, and reshuffles; changing the seed string
    re-splits the corpus reproducibly. The first 8 md5 hex chars give a
    uniform 32-bit bucket; both engines parse hex identically."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split-seed-1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


@query(
    "ext_corpus_mix",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len({tokens_sql('text')})) AS BIGINT) AS n_tokens,
           CAST((SUM(len({tokens_sql('text')})) * 10000)
             // (SUM(SUM(len({tokens_sql('text')}))) OVER ()) AS BIGINT)
             AS token_share_bp
    FROM documents
    GROUP BY source
    """,
)
def ext_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture report: per-source document and token counts
    plus each source's token share in integer basis points — the number
    a data-mixing pipeline actually samples against. Share is integer
    arithmetic end to end ((tokens * 10000) DIV total): exact in both
    engines, no float division to disagree on.

    Plan: one partial-aggregated shuffle on source (tiny key space), then
    the grand total via a single-row window over the aggregated frame —
    |sources| rows, not a second scan of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(n_tokens * 10000) DIV SUM(n_tokens) OVER ()").alias(
            "token_share_bp"
        ),
    )


@query(
    "ext_token_histogram",
    oracle=f"""
    SELECT (len({tokens_sql('text')}) // 16) AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(len({tokens_sql('text')})) AS BIGINT) AS min_tokens,
           CAST(MAX(len({tokens_sql('text')})) AS BIGINT) AS max_tokens,
           CAST(SUM(len({tokens_sql('text')})) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY bucket
    """,
)
def ext_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in 16-token buckets — the length
    distribution a corpus-quality dashboard plots (and the input to
    truncation/packing decisions in a training pipeline). Bucketing is
    integer division of the exact token count: no width_bucket/log2
    float boundaries to disagree on cross-engine.

    Scale: tokenize + bucket are map-side expressions; one hash
    aggregate on a small integer key."""
    d = load_table(spark, sf_dir, "documents")
    nt = F.size(tokens("text"))
    return (
        d.select(nt.alias("ntok"))
        .groupBy(F.expr("ntok DIV 16").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ntok").cast("bigint").alias("min_tokens"),
            F.max("ntok").cast("bigint").alias("max_tokens"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
        )
    )


_PACK_BUDGET = 2048  # tokens per packed training sequence


@query(
    "ext_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT lang, doc_id, len({tokens_sql('text')}) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT lang, doc_id, n_tokens,
             -- CAST: windowed SUM is HUGEINT in DuckDB, which pandas
             -- renders as float64 — the driver's dtype-sensitive hasher
             -- would see 3.0 vs Spark's bigint 3 (round-1 fn_json lesson)
             CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - 1)
               // {_PACK_BUDGET} AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT lang, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY lang, pack_id
    """,
)
def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: assign documents (per language,
    in doc_id order) to fixed-budget context windows of 2048 tokens via a
    running token cumsum — pack_id = (cumsum - 1) DIV budget. Documents
    may straddle a pack boundary (the token-level splitter downstream
    cuts them); what the engine owns is the deterministic, distributed
    assignment. Integer arithmetic end to end.

    Scale: one shuffle on lang partitions both the running-sum window
    and the pack aggregate (shared partitioning, single Exchange). A
    single giant language would make that window one task — production
    sub-shards the partition key (lang, doc_id DIV N) and offsets pack
    ids per shard with a precomputed per-shard token base; at fixture
    scale the plain form is the honest plan."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", "doc_id", F.size(tokens("text")).alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        toks.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("pack_id", F.expr(f"(cum - 1) DIV {_PACK_BUDGET}"))
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# Batch k-NN geometry: 8 probe vectors, 5 neighbors each.
_KNN_PROBES = 8
_KNN_K = 5


@query(
    "ext_sim_knn_join",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS p
      FROM embeddings WHERE vec_id < {_KNN_PROBES}
    ), scored AS (
      SELECT probe_id, e.vec_id AS vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY {cosine_unrolled_sql('e.embedding', 'p', dialect='duck')} DESC,
                        e.vec_id ASC) AS rank
      FROM embeddings e, probes
      WHERE e.vec_id >= {_KNN_PROBES}
    )
    SELECT probe_id, vec_id, rank FROM scored WHERE rank <= {_KNN_K}
    """,
)
def ext_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-5 cosine neighbors for EACH of 8 probe
    vectors in one pass — the many-query form of `ext_sim_cosine_topk`
    (one scan serves the whole probe batch instead of one scan per
    probe). Ids + rank only; the unrolled bit-exact cosine keeps rank
    order identical across engines, vec_id tiebreak closes score ties.

    Scale shape: probes broadcast (a query batch is KB-to-MB); the
    corpus is scanned once and scored against all probes map-side. The
    per-probe rank<=k filter lets Spark plan a WindowGroupLimit partial
    pass BEFORE the probe_id exchange — each input partition forwards at
    most k rows per probe, so the shuffle carries O(probes x k x
    partitions) id/score triples, never the corpus-x-probes cross
    product (tests/test_plans.py pins that node). For probe batches too
    large to broadcast, the IVF bucket route (`ext_sim_ann_ivf`) is the
    handoff."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _KNN_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p")
    )
    scored = (
        e.filter(F.col("vec_id") >= _KNN_PROBES)
        .crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "vec_id",
            F.expr(cosine_unrolled_sql("embedding", "p")).alias("cos"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .select("probe_id", "vec_id", "rank")
    )


@query(
    "ext_classifier_metrics",
    oracle=f"""
    WITH conf AS (
      SELECT lang AS actual, {_langid_pred_sql()} AS predicted, COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    tp AS (SELECT actual AS lang, CAST(SUM(n) AS BIGINT) AS tp
           FROM conf WHERE actual = predicted GROUP BY 1),
    act AS (SELECT actual AS lang, CAST(SUM(n) AS BIGINT) AS n_actual
            FROM conf GROUP BY 1),
    prd AS (SELECT predicted AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
            FROM conf GROUP BY 1)
    SELECT act.lang,
           COALESCE(tp.tp, CAST(0 AS BIGINT)) AS tp,
           act.n_actual,
           COALESCE(prd.n_pred, CAST(0 AS BIGINT)) AS n_pred,
           CAST(CASE WHEN COALESCE(prd.n_pred, 0) = 0 THEN 0
                ELSE (COALESCE(tp.tp, 0) * 10000) // prd.n_pred END AS BIGINT)
             AS precision_bp,
           CAST((COALESCE(tp.tp, 0) * 10000) // act.n_actual AS BIGINT)
             AS recall_bp
    FROM act
    LEFT JOIN tp ON tp.lang = act.lang
    LEFT JOIN prd ON prd.lang = act.lang
    """,
)
def ext_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as an engine operator: per-language
    precision and recall (integer basis points) of the heuristic
    language-ID against the labeled column — the eval step every
    labeling/filtering model in a data pipeline needs at corpus scale.
    Derived entirely from the (actual, predicted, n) confusion matrix
    (languages x languages rows — vocabulary-sized however big the
    corpus), so the expensive part is ONE scan + one tiny aggregate;
    the metric joins are on a 5-row frame. Ratios are truncating
    integer division on both engines; absent cells coalesce to 0
    rather than dropping a language from the report."""
    d = load_table(spark, sf_dir, "documents")
    conf = (
        d.select(F.col("lang").alias("actual"), _langid_pred().alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tp = (
        conf.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("lang"))
        .agg(F.sum("n").cast("bigint").alias("tp"))
    )
    act = conf.groupBy(F.col("actual").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_actual")
    )
    prd = conf.groupBy(F.col("predicted").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    j = (
        act.join(tp, "lang", "left")
        .join(prd, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            "n_actual",
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
        )
    )
    return j.select(
        "lang",
        "tp",
        "n_actual",
        "n_pred",
        F.when(F.col("n_pred") == 0, F.lit(0))
        .otherwise(F.expr("(tp * 10000) div n_pred"))
        .cast("bigint")
        .alias("precision_bp"),
        F.expr("(tp * 10000) div n_actual").cast("bigint").alias("recall_bp"),
    )


# --------------------------------------------------------------------------
# ext_bitext_mine_margin
# --------------------------------------------------------------------------


def _bitext_sql(dialect: str) -> str:
    cos = cosine_unrolled_sql("p.embedding", "c.embedding", dialect=dialect)
    # duck-only MATERIALIZED on the multi-consumer CTEs (`dv` x2 self-
    # join, `ranked` x2 rank-1/rank-2 join) — oracle-OOM-class hardening
    # (tools/audit_oracle_ctes.py); no-op in the spark dialect.
    mat = "MATERIALIZED " if dialect == "duck" else ""
    return f"""
    WITH dv AS {mat}(
      SELECT d.doc_id, d.lang, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    scored AS {mat}(
      SELECT p.doc_id AS probe_id, p.lang AS probe_lang,
             c.doc_id AS cand_id,
             {cos} AS c
      FROM dv p JOIN dv c ON c.lang = 'en'
      WHERE p.lang <> 'en' AND p.doc_id < 64
    ),
    ranked AS {mat}(
      SELECT probe_id, probe_lang, cand_id, c,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY c DESC, cand_id ASC) AS rk
      FROM scored
    )
    SELECT b.probe_id, b.probe_lang,
           b.cand_id AS best_en_doc,
           CAST(FLOOR(b.c * 1000000) AS BIGINT) AS cos_e6,
           CAST(FLOOR((b.c - s.c) * 1000000) AS BIGINT) AS margin_e6
    FROM ranked b JOIN ranked s
      ON s.probe_id = b.probe_id AND b.rk = 1 AND s.rk = 2
    """


@query("ext_bitext_mine_margin", oracle=_bitext_sql("duck"))
def ext_bitext_mine_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining (the multilingual-pretraining pairing stage): each
    non-English probe document is paired with its best English document
    by embedding cosine, scored with the ABSOLUTE MARGIN (best minus
    second-best similarity) that separates real translations from
    hubness artifacts — the decision statistic of margin-based mining,
    computed here from the exact rank-1/rank-2 neighbours.

    Determinism: the unrolled bit-exact cosine, a total (cos, cand)
    rank order, and the margin as one double subtraction on identical
    operands before the e6 floor.

    Scale: the probe set is bounded (doc_id < 64 here; a mining batch in
    production) and the candidate side is lang-filtered before the join
    — the demonstrated shape is brute-force-over-batch, and the
    production candidate generator is the LSH/IVF tier (same margin
    selection over bucket survivors instead of the full en side). The
    rank-2 window is probe-bounded, never corpus-bounded."""
    register_views(spark, sf_dir)
    return spark.sql(_bitext_sql("spark"))


# --------------------------------------------------------------------------
# bitext EN-candidate store lifecycle (round-10 VERDICT next #8, second
# candidate): `ext_bitext_mine_margin` demonstrates margin selection
# brute-force over the full English side per probe batch — fine for a
# bounded batch, but a STANDING cross-lingual miner re-scans the EN
# corpus every batch. The persisted artifact is the EN-side centroid
# bucket index (the IVF trick applied to the mining candidate
# generator): EN vectors assigned once to the 4 seed centroids (the
# SemDeDup assignment CASE — bit-exact, shared with the oracle),
# stored (doc_id, bucket) partitioned by bucket. Serving mines within
# the probe's own bucket only — the documented recall trade of every
# IVF key in this tree, certified by comparing against the SAME
# bucketed semantics recomputed from scratch.
# --------------------------------------------------------------------------

_BTX_K = 4  # seed centroids = embeddings vec_id 0..3, the SemDeDup seeds


def _btx_assign_case() -> str:
    from mongodb_cdc_spark.operators.curation import _sem_assign_case

    return _sem_assign_case()


def _btx_sims_sql(
    dialect: str, src_filter: str, enasg_body: str | None = None
) -> str:
    """(doc_id, s0..s3) of EN-side doc-vectors under ``src_filter``.
    ``enasg_body`` swaps the assignment CTE's body for a persisted-store
    read in the Spark serving arm — the CTE name and shape stay
    identical to the oracle's from-scratch recomputation."""
    cos = [
        cosine_unrolled_sql("en.embedding", f"c{k}", dialect=dialect)
        for k in range(_BTX_K)
    ]
    mat = "MATERIALIZED " if dialect == "duck" else ""
    enasg = enasg_body or f"SELECT doc_id, {_btx_assign_case()} AS bucket FROM ensims"
    return f"""c AS {mat}(
      SELECT (SELECT embedding FROM embeddings WHERE vec_id = 0) AS c0,
             (SELECT embedding FROM embeddings WHERE vec_id = 1) AS c1,
             (SELECT embedding FROM embeddings WHERE vec_id = 2) AS c2,
             (SELECT embedding FROM embeddings WHERE vec_id = 3) AS c3
    ),
    en AS {mat}(
      SELECT d.doc_id, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE d.lang = 'en' AND ({src_filter})
    ),
    ensims AS {mat}(
      SELECT en.doc_id, en.embedding,
             {cos[0]} AS s0, {cos[1]} AS s1, {cos[2]} AS s2, {cos[3]} AS s3
      FROM en, c
    ),
    enasg AS {mat}(
      {enasg}
    )"""


def bitext_en_store_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, stage-then-rename) the EN-candidate bucket store:
    (doc_id, bucket) for every English doc-vector, partitioned by
    bucket so serving scans prune to the probe's bucket."""
    import os as _os

    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf
    from mongodb_cdc_spark.sources.changefeed import scratch_root

    sf_name = _os.path.basename(_os.path.normpath(sf_dir))
    path = _os.path.join(
        scratch_root(), f"bitext_en_{sf_name}_k{_BTX_K}_v1"
    )
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        d = load_table(spark, sf_dir, "documents")
        e = load_table(spark, sf_dir, "embeddings")
        cents = [
            r["embedding"]
            for r in e.filter(F.col("vec_id") < _BTX_K)
            .orderBy("vec_id")
            .collect()
        ]
        project = centroid_cosines_udf(cents)
        asg = (
            d.filter(F.col("lang") == "en")
            .select("doc_id")
            .join(e, F.col("doc_id") == F.col("vec_id"))
            .select("doc_id", project("embedding").alias("_s"))
            .select(
                "doc_id",
                *[F.col("_s")[k].alias(f"s{k}") for k in range(_BTX_K)],
            )
            .select("doc_id", F.expr(_btx_assign_case()).alias("bucket"))
        )
        stage = new_stage(path)
        asg.write.mode("overwrite").partitionBy("bucket").parquet(stage)
        publish_store(stage, path)
    return path


@query(
    "maintenance_bitext_store",
    oracle=f"""
    WITH {_btx_sims_sql('duck', 'TRUE')}
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS docid_checksum
    FROM enasg GROUP BY bucket ORDER BY bucket
    """,
)
def maintenance_bitext_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the EN-candidate bucket store (`bitext_en_store_path`)
    and read back its per-bucket audit, hash-checked against DuckDB's
    from-scratch recomputation of the same bit-exact centroid
    assignment (count + exact doc_id sum per bucket — one wrong
    assignment anywhere breaks a checksum).

    Scale: the EN corpus is projected once at build (4 Arrow-kernel
    cosines/vector); the audit reads two narrow store columns. Mining
    then serves from bucket-pruned partitions —
    `ext_bitext_mine_from_store`."""
    store = spark.read.parquet(bitext_en_store_path(spark, sf_dir))
    return (
        store.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("docid_checksum"),
        )
        .orderBy("bucket")
    )


@query(
    "maintenance_bitext_refresh",
    oracle=f"""
    WITH cut AS MATERIALIZED (
      SELECT (MAX(doc_id) * 9) // 10 AS c FROM documents
    ),
    {_btx_sims_sql('duck', 'TRUE')}
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM enasg
       WHERE doc_id <= (SELECT c FROM cut)) AS n_base,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM enasg
       WHERE doc_id > (SELECT c FROM cut)) AS n_wave,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM enasg) AS n_merged,
      CAST(0 AS BIGINT) AS merge_mismatches
    """,
)
def maintenance_bitext_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental refresh for the EN-candidate store: assignments are
    per-doc against FIXED centroids, so the wave algebra is append-only
    — encode ONLY the arriving EN wave (top-decile doc_ids), append to
    the standing base assignments, and prove merged == the persisted
    full build row for row (``merge_mismatches`` counts full-outer-join
    rows differing in (doc_id, bucket); hash-checked at 0).

    Scale: steady-state refresh projects wave vectors only; buckets
    never rebalance under append (centroid versioning is the same
    FIXED-version contract as `maintenance_ivf_refresh` — a centroid
    re-train is a new store version, not a refresh)."""
    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    cut = int(d.agg(F.expr("(MAX(doc_id) * 9) div 10")).collect()[0][0])
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") < _BTX_K).orderBy("vec_id").collect()
    ]
    project = centroid_cosines_udf(cents)

    def assign(docs: DataFrame) -> DataFrame:
        return (
            docs.select("doc_id")
            .join(e, F.col("doc_id") == F.col("vec_id"))
            .select("doc_id", project("embedding").alias("_s"))
            .select(
                "doc_id",
                *[F.col("_s")[k].alias(f"s{k}") for k in range(_BTX_K)],
            )
            .select("doc_id", F.expr(_btx_assign_case()).alias("bucket"))
        )

    en = d.filter(F.col("lang") == "en")
    base = assign(en.filter(F.col("doc_id") <= cut))
    wave = assign(en.filter(F.col("doc_id") > cut))
    merged = base.unionByName(wave)
    full = spark.read.parquet(bitext_en_store_path(spark, sf_dir)).select(
        "doc_id", F.col("bucket").cast("int").alias("bucket")
    )
    mism = (
        merged.select("doc_id", F.col("bucket").cast("int").alias("bucket"))
        .withColumn("l_present", F.lit(1))
        .join(
            full.withColumn("r_present", F.lit(1)),
            ["doc_id", "bucket"],
            "full_outer",
        )
        .filter(F.col("l_present").isNull() | F.col("r_present").isNull())
        .agg(F.count(F.lit(1)).cast("bigint").alias("merge_mismatches"))
    )
    return (
        base.agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
        .crossJoin(
            F.broadcast(
                wave.agg(F.count(F.lit(1)).cast("bigint").alias("n_wave"))
            )
        )
        .crossJoin(
            F.broadcast(
                merged.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_merged")
                )
            )
        )
        .crossJoin(F.broadcast(mism))
        .select("n_base", "n_wave", "n_merged", "merge_mismatches")
    )


def _btx_from_store_sql(dialect: str, enasg_body: str | None = None) -> str:
    """Bucketed margin mining, shared spark/duck: probes (non-en,
    doc_id < 64) are assigned to their nearest centroid, candidates are
    SAME-BUCKET English docs only, then the exact rank-1/rank-2 margin
    of the brute-force miner over the bucket survivors."""
    cosp = [
        cosine_unrolled_sql("p.embedding", f"c{k}", dialect=dialect)
        for k in range(_BTX_K)
    ]
    cos = cosine_unrolled_sql("p.embedding", "q.embedding", dialect=dialect)
    mat = "MATERIALIZED " if dialect == "duck" else ""
    return f"""
    WITH {_btx_sims_sql(dialect, 'TRUE', enasg_body)},
    probes0 AS {mat}(
      SELECT d.doc_id, d.lang, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE d.lang <> 'en' AND d.doc_id < 64
    ),
    probes AS {mat}(
      SELECT p.doc_id, p.lang, p.embedding,
             {cosp[0]} AS s0, {cosp[1]} AS s1,
             {cosp[2]} AS s2, {cosp[3]} AS s3
      FROM probes0 p, c
    ),
    pasg AS {mat}(
      SELECT doc_id, lang, embedding, {_btx_assign_case()} AS bucket
      FROM probes
    ),
    scored AS {mat}(
      SELECT p.doc_id AS probe_id, p.lang AS probe_lang,
             a.doc_id AS cand_id, {cos.replace('q.embedding', 'en2.embedding')} AS c
      FROM pasg p
      JOIN enasg a ON a.bucket = p.bucket
      JOIN en en2 ON en2.doc_id = a.doc_id
    ),
    ranked AS {mat}(
      SELECT probe_id, probe_lang, cand_id, c,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY c DESC, cand_id ASC) AS rk
      FROM scored
    )
    SELECT b.probe_id, b.probe_lang,
           b.cand_id AS best_en_doc,
           CAST(FLOOR(b.c * 1000000) AS BIGINT) AS cos_e6,
           CAST(FLOOR((b.c - s.c) * 1000000) AS BIGINT) AS margin_e6
    FROM ranked b JOIN ranked s
      ON s.probe_id = b.probe_id AND b.rk = 1 AND s.rk = 2
    """


@query("ext_bitext_mine_from_store", oracle=_btx_from_store_sql("duck"))
def ext_bitext_mine_from_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bitext margin mining served from the persisted EN bucket store
    (tier block above): probe batch -> nearest-centroid bucket ->
    same-bucket English candidates -> exact rank-1/rank-2 margin. The
    Spark arm mines against the STORE's (doc_id, bucket) rows (the
    oracle recomputes the identical bucketed semantics from scratch),
    so a standing miner's per-batch EN-side read is the probe-bucket
    partitions, not the corpus — the IVF candidate-generation trade
    the brute-force key's docstring promises, now materialized.

    Scale: per batch, candidate work is |probes| x |their buckets|;
    embeddings join at candidate cardinality; the store partitioning
    prunes the scan to touched buckets. Recall vs brute force follows
    bucket recall exactly as in the IVF tier (multiprobe is the same
    extension).

    Round-12 restructure (guide §2.3/§3.3, VERDICT r11 #5): the
    one-SQL form referenced its `ranked` CTE twice (rank-1 x rank-2
    self-join) and `en` three times, and Spark's CTE inlining
    recomputed the whole store-probe-score chain per reference. Staged
    DataFrames score the bucket candidates ONCE (checkpointed at
    candidate cardinality), rank on that tiny frame, and self-join
    rank-1 x rank-2. Identical math: the same unrolled cosine on the
    same operands, the same (c DESC, cand_id ASC) order, margin as one
    double subtraction before the e6 floor — the oracle is unchanged
    and the Spark arm still mines against the persisted store's
    (doc_id, bucket) rows."""
    from pyspark.sql.window import Window

    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") < _BTX_K).orderBy("vec_id").collect()
    ]
    project = centroid_cosines_udf(cents)

    store = spark.read.parquet(bitext_en_store_path(spark, sf_dir)).select(
        "doc_id", F.col("bucket").cast("int").alias("bucket")
    )
    # candidate side: the STORE's (doc_id, bucket) rows, embeddings
    # joined at store cardinality (the oracle recomputes the identical
    # bucketed semantics from scratch)
    en_b = store.join(
        e, F.col("doc_id") == F.col("vec_id")
    ).select(
        F.col("doc_id").alias("cand_id"),
        F.col("embedding").alias("cemb"),
        "bucket",
    )
    pasg = (
        d.filter((F.col("lang") != "en") & (F.col("doc_id") < 64))
        .select("doc_id", "lang")
        .join(e, F.col("doc_id") == F.col("vec_id"))
        .select(
            "doc_id", "lang", "embedding", project("embedding").alias("_s")
        )
        .select(
            "doc_id",
            "lang",
            "embedding",
            *[F.col("_s")[k].alias(f"s{k}") for k in range(_BTX_K)],
        )
        .withColumn("bucket", F.expr(_btx_assign_case()))
        .select(
            F.col("doc_id").alias("probe_id"),
            F.col("lang").alias("probe_lang"),
            F.col("embedding").alias("pemb"),
            "bucket",
        )
    )
    scored = (
        pasg.join(en_b, "bucket")
        .select(
            "probe_id",
            "probe_lang",
            "cand_id",
            F.expr(cosine_unrolled_sql("pemb", "cemb")).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("probe_id").orderBy(
                F.desc("c"), F.asc("cand_id")
            )
        ),
    ).filter(F.col("rk") <= 2)
    b = ranked.filter(F.col("rk") == 1).select(
        "probe_id", "probe_lang", F.col("cand_id").alias("best_en_doc"),
        F.col("c").alias("bc"),
    )
    s2 = ranked.filter(F.col("rk") == 2).select(
        F.col("probe_id").alias("spid"), F.col("c").alias("sc")
    )
    return b.join(s2, F.col("probe_id") == F.col("spid")).select(
        "probe_id",
        "probe_lang",
        "best_en_doc",
        F.floor(F.col("bc") * 1000000).cast("bigint").alias("cos_e6"),
        F.floor((F.col("bc") - F.col("sc")) * 1000000)
        .cast("bigint")
        .alias("margin_e6"),
    )


@query(
    "stream_bitext_ingest",
    oracle=f"""
    WITH {_btx_sims_sql('duck', 'TRUE')}
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS docid_checksum
    FROM enasg GROUP BY bucket ORDER BY bucket
    """,
)
def stream_bitext_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EN-candidate ingest for the bitext store: documents
    arrive as an unbounded feed, each micro-batch's English docs are
    projected and bucket-assigned against the FIXED seed centroids by
    the same bit-exact Arrow kernel the batch builder uses, and
    appended per-batch; the final per-bucket histogram must equal the
    batch-built store's — SAME audit oracle as
    `maintenance_bitext_store`, proving continuous candidate ingest
    converges to the batch build exactly.

    Exactly-once by idempotence (per-batch overwrite dirs, supervised
    run with a fixed checkpoint). Scale: per-batch cost is batch x 4
    centroid cosines + the embeddings join at batch cardinality;
    nothing reshuffles previously ingested candidates."""
    import os as _os

    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf
    from mongodb_cdc_spark.sources.changefeed import scratch_root
    from mongodb_cdc_spark.streaming.pipeline import (
        new_scratch_dir,
        run_supervised,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") < _BTX_K).orderBy("vec_id").collect()
    ]
    project = centroid_cosines_udf(cents)
    emb = e.select(
        F.col("vec_id").alias("doc_id"), "embedding"
    ).localCheckpoint(eager=True)

    sf_name = _os.path.basename(_os.path.normpath(sf_dir))
    feed = _os.path.join(scratch_root(), f"btxfeed_{sf_name}_4")
    if not _os.path.exists(_os.path.join(feed, "_SUCCESS")):
        # stage-then-publish like every store build: two sessions racing
        # a direct overwrite of the final path can interleave into a
        # mixed/duplicated feed the stream then reads
        stage = new_stage(feed)
        d.repartition(4).write.mode("overwrite").parquet(stage)
        publish_store(stage, feed)
    target = new_scratch_dir("btx_ingest_target")
    ckpt = new_scratch_dir("btx_ingest_ckpt")

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        # broadcast the batch ids into the embedding-table scan — the
        # embedding side is corpus-cardinality and must never shuffle
        # per micro-batch
        (
            emb.join(
                F.broadcast(
                    bdf.filter(F.col("lang") == "en").select("doc_id")
                ),
                "doc_id",
            )
            .select("doc_id", project("embedding").alias("_s"))
            .select(
                "doc_id",
                *[F.col("_s")[k].alias(f"s{k}") for k in range(_BTX_K)],
            )
            .select("doc_id", F.expr(_btx_assign_case()).alias("bucket"))
            .write.mode("overwrite")
            .parquet(f"{target}/batch={batch_id}")
        )

    def start_query():
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        return (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run_supervised(start_query, max_restarts=2, restart_delay_s=1.0)
    return (
        spark.read.parquet(target)
        .groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("docid_checksum"),
        )
        .orderBy("bucket")
    )


def _btx_recall_sql(dialect: str) -> str:
    """Exact recall certification of bucket-pruned bitext mining vs the
    brute-force miner: per probe, does the bucket survivor's rank-1
    equal the global rank-1, and how much cosine is lost when it does
    not — all integers (e6 floors), both chains recomputed from the
    same relations so the eval is engine-exact."""
    cos = cosine_unrolled_sql("p.embedding", "en2.embedding", dialect=dialect)
    bcos = cosine_unrolled_sql("p.embedding", "q.embedding", dialect=dialect)
    mat = "MATERIALIZED " if dialect == "duck" else ""
    return f"""
    WITH {_btx_sims_sql(dialect, 'TRUE')},
    probes0 AS {mat}(
      SELECT d.doc_id, d.lang, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE d.lang <> 'en' AND d.doc_id < 64
    ),
    probes AS {mat}(
      SELECT p.doc_id, p.embedding,
             {cosine_unrolled_sql('p.embedding', 'c0', dialect=dialect)} AS s0,
             {cosine_unrolled_sql('p.embedding', 'c1', dialect=dialect)} AS s1,
             {cosine_unrolled_sql('p.embedding', 'c2', dialect=dialect)} AS s2,
             {cosine_unrolled_sql('p.embedding', 'c3', dialect=dialect)} AS s3
      FROM probes0 p, c
    ),
    pasg AS {mat}(
      SELECT doc_id, embedding, {_btx_assign_case()} AS bucket FROM probes
    ),
    bru AS {mat}(
      SELECT p.doc_id AS probe_id, q.doc_id AS cand_id, {bcos} AS cs,
             ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                ORDER BY {bcos} DESC, q.doc_id ASC) AS rk
      FROM pasg p JOIN en q ON TRUE
    ),
    bkt AS {mat}(
      SELECT p.doc_id AS probe_id, en2.doc_id AS cand_id, {cos} AS cs,
             ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                ORDER BY {cos} DESC, en2.doc_id ASC) AS rk
      FROM pasg p
      JOIN enasg a ON a.bucket = p.bucket
      JOIN en en2 ON en2.doc_id = a.doc_id
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bru WHERE rk = 1) AS n_probes,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bkt WHERE rk = 1)
        AS n_probes_bucketed,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM bru b JOIN bkt k
         ON k.probe_id = b.probe_id AND b.rk = 1 AND k.rk = 1
       WHERE b.cand_id = k.cand_id) AS n_top1_match,
      (SELECT CAST(COALESCE(SUM(
           CAST(FLOOR(b.cs * 1000000) AS BIGINT)
           - CAST(FLOOR(k.cs * 1000000) AS BIGINT)), 0) AS BIGINT)
       FROM bru b JOIN bkt k
         ON k.probe_id = b.probe_id AND b.rk = 1 AND k.rk = 1)
        AS recall_loss_e6_sum
    """


@query("ext_bitext_recall_eval", oracle=_btx_recall_sql("duck"))
def ext_bitext_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification key for the bitext store's candidate-generation
    trade (tier block above): for every probe, compare the
    bucket-pruned rank-1 English partner against the brute-force
    rank-1 — exact top-1 agreement count and the exact e6-floored
    cosine loss summed over probes. Hash-checked end-to-end (one
    cosine bit on either ranking moves a rank and breaks the hash).

    This is the same certify-the-approximation discipline as the IVF
    recall evals: the serving key (`ext_bitext_mine_from_store`) makes
    a recall claim; this key MEASURES it, so the trade is a number in
    the driver record, not a docstring assertion. The brute-force arm
    exists only for the eval — serving stays bucket-pruned.

    Round-12 restructure (guide §2.3/§3.3, VERDICT r11 #5): the
    one-SQL form re-expanded its CTE chain into every one of the four
    scalar subqueries (Spark inlines CTEs), so the |probes| x |en|
    truth table was recomputed up to three times per run. Staged
    DataFrames compute each arm ONCE (checkpointed at rank-1
    cardinality), the centroid projections run through the certified
    bit-exact Arrow kernel (same kernel the store builder and the
    multiprobe key already hash-check against this oracle family), and
    rank-1 selection is a max_by aggregate — partial (map-side)
    aggregation, so only |probes| rows reach the exchange instead of
    the full scored table a per-probe window would reshuffle. The
    per-pair float math is unchanged: the same unrolled cosine on the
    same operands, the same (cs DESC, cand_id ASC) total order, the
    same e6 floors — bit-exact vs the unchanged oracle."""
    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf
    from mongodb_cdc_spark.operators._util import run_parallel

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") < _BTX_K).orderBy("vec_id").collect()
    ]
    project = centroid_cosines_udf(cents)

    def with_bucket(docs: DataFrame) -> DataFrame:
        return (
            docs.join(e, F.col("doc_id") == F.col("vec_id"))
            .select("doc_id", "embedding", project("embedding").alias("_s"))
            .select(
                "doc_id",
                "embedding",
                *[F.col("_s")[k].alias(f"s{k}") for k in range(_BTX_K)],
            )
            .withColumn("bucket", F.expr(_btx_assign_case()))
            .select("doc_id", "embedding", "bucket")
        )

    # independent setup arms + independent truth/bucketed arms overlap
    # (guide 2.6)
    en, pasg = run_parallel(
        lambda: with_bucket(
            d.filter(F.col("lang") == "en").select("doc_id")
        ).localCheckpoint(eager=True),
        lambda: with_bucket(
            d.filter((F.col("lang") != "en") & (F.col("doc_id") < 64)).select(
                "doc_id"
            )
        ).localCheckpoint(eager=True),
    )

    pc = cosine_unrolled_sql("pemb", "cemb")
    # rank-1 per probe as one aggregate: max over the (cs, -cand_id)
    # total order == ROW_NUMBER() OVER (ORDER BY cs DESC, cand_id ASC)
    # rk=1 — same comparisons, but partially aggregable
    top1 = F.max_by(
        F.struct(
            F.col("cand_id"), F.col("cs")
        ),
        F.struct(F.col("cs"), (-F.col("cand_id")).alias("nid")),
    ).alias("t")

    def t_bru():
        return (
            pasg.select(
                F.col("doc_id").alias("probe_id"),
                F.col("embedding").alias("pemb"),
            )
            .crossJoin(
                en.select(
                    F.col("doc_id").alias("cand_id"),
                    F.col("embedding").alias("cemb"),
                )
            )
            .select("probe_id", "cand_id", F.expr(pc).alias("cs"))
            .groupBy("probe_id")
            .agg(top1)
            .select(
                "probe_id",
                F.col("t.cand_id").alias("bcid"),
                F.col("t.cs").alias("bcs"),
            )
            .localCheckpoint(eager=True)
        )

    def t_bkt():
        return (
            pasg.select(
                F.col("doc_id").alias("probe_id"),
                F.col("embedding").alias("pemb"),
                "bucket",
            )
            .join(
                en.select(
                    F.col("doc_id").alias("cand_id"),
                    F.col("embedding").alias("cemb"),
                    "bucket",
                ),
                "bucket",
            )
            .select("probe_id", "cand_id", F.expr(pc).alias("cs"))
            .groupBy("probe_id")
            .agg(top1)
            .select(
                "probe_id",
                F.col("t.cand_id").alias("kcid"),
                F.col("t.cs").alias("kcs"),
            )
            .localCheckpoint(eager=True)
        )

    bru, bkt = run_parallel(t_bru, t_bkt)
    both = bru.join(bkt, "probe_id")
    n_probes = bru.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"))
    n_bucketed = bkt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes_bucketed")
    )
    n_match = both.filter(F.col("bcid") == F.col("kcid")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_top1_match")
    )
    loss = both.agg(
        F.coalesce(
            F.sum(
                F.floor(F.col("bcs") * 1000000).cast("bigint")
                - F.floor(F.col("kcs") * 1000000).cast("bigint")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("recall_loss_e6_sum")
    )
    return (
        n_probes.crossJoin(F.broadcast(n_bucketed))
        .crossJoin(F.broadcast(n_match))
        .crossJoin(F.broadcast(loss))
        .select(
            "n_probes",
            "n_probes_bucketed",
            "n_top1_match",
            "recall_loss_e6_sum",
        )
    )


def _btx_multiprobe_sql(dialect: str) -> str:
    """nprobe=2 recall: probes mine the TWO nearest centroid buckets
    (rank over the probe's own 4 projection values — total order with
    bucket-id tiebreak), compared against brute force."""
    cos = cosine_unrolled_sql("p.embedding", "en2.embedding", dialect=dialect)
    bcos = cosine_unrolled_sql("p.embedding", "q.embedding", dialect=dialect)
    mat = "MATERIALIZED " if dialect == "duck" else ""
    arms = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, embedding, {k} AS bucket, s{k} AS s FROM probes"
        for k in range(_BTX_K)
    )
    return f"""
    WITH {_btx_sims_sql(dialect, 'TRUE')},
    probes0 AS {mat}(
      SELECT d.doc_id, d.lang, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE d.lang <> 'en' AND d.doc_id < 64
    ),
    probes AS {mat}(
      SELECT p.doc_id, p.embedding,
             {cosine_unrolled_sql('p.embedding', 'c0', dialect=dialect)} AS s0,
             {cosine_unrolled_sql('p.embedding', 'c1', dialect=dialect)} AS s1,
             {cosine_unrolled_sql('p.embedding', 'c2', dialect=dialect)} AS s2,
             {cosine_unrolled_sql('p.embedding', 'c3', dialect=dialect)} AS s3
      FROM probes0 p, c
    ),
    plong AS {mat}(
{arms}
    ),
    ptop2 AS {mat}(
      SELECT doc_id, embedding, bucket FROM (
        SELECT doc_id, embedding, bucket,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY s DESC, bucket ASC) AS rnk
        FROM plong
      ) WHERE rnk <= 2
    ),
    bru AS {mat}(
      SELECT p.doc_id AS probe_id, q.doc_id AS cand_id,
             ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                ORDER BY {bcos} DESC, q.doc_id ASC) AS rk
      FROM probes p JOIN en q ON TRUE
    ),
    bkt AS {mat}(
      SELECT probe_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cs DESC, cand_id ASC) AS rk
      FROM (
        SELECT DISTINCT p.doc_id AS probe_id, en2.doc_id AS cand_id,
               {cos} AS cs
        FROM ptop2 p
        JOIN enasg a ON a.bucket = p.bucket
        JOIN en en2 ON en2.doc_id = a.doc_id
      )
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bru WHERE rk = 1) AS n_probes,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM bru b JOIN bkt k
         ON k.probe_id = b.probe_id AND b.rk = 1 AND k.rk = 1
       WHERE b.cand_id = k.cand_id) AS n_top1_match_nprobe2
    """


@query("ext_bitext_multiprobe_recall", oracle=_btx_multiprobe_sql("duck"))
def ext_bitext_multiprobe_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiprobe extension of `ext_bitext_recall_eval`: mining the TWO
    nearest centroid buckets per probe (rank over the probe's own
    projection values), exact top-1 agreement vs brute force —
    measured 17/43 -> 31/43 at sf0.01 and 13/37 -> 24/37 at sf0.1
    going nprobe 1 -> 2, the same recall lever the IVF tier certified
    (23% -> 57% at nprobe=3). Candidate work doubles; it stays
    bucket-bounded, never corpus-bounded.

    The Spark arm is STAGED DataFrames (Arrow centroid kernel +
    checkpointed intermediates), not one nested SQL: Spark inlines
    CTEs, and the oracle's chain re-expands the 4 unrolled 32-dim
    cosines combinatorially through plong -> ptop2 -> bkt — the first
    cut OOM'd the driver during OPTIMIZATION on 43 probe rows. DuckDB
    keeps the shared chain via AS MATERIALIZED. Cosines stay bit-exact
    on both arms (the certified kernel + single unrolled pair
    expressions)."""
    from pyspark.sql.window import Window

    from mongodb_cdc_spark.functions.vectors import centroid_cosines_udf
    from mongodb_cdc_spark.operators._util import run_parallel

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") < _BTX_K).orderBy("vec_id").collect()
    ]
    project = centroid_cosines_udf(cents)

    # Round 12 (guide §2.6 + §2.3, VERDICT r11 #5): the en/probes setup
    # checkpoints are independent — overlapped; the two recall arms
    # (brute force, bucketed) are independent given them — overlapped
    # below. Rank-1 selection runs as a max_by aggregate over the same
    # (cs DESC, cand_id ASC) total order the window encoded: identical
    # comparisons and winner, but partially (map-side) aggregable, so
    # only |probes| rows reach the exchange instead of the full scored
    # table (the oracle still ranks with ROW_NUMBER; results identical).
    def t_en():
        return (
            d.filter(F.col("lang") == "en")
            .select("doc_id")
            .join(e, F.col("doc_id") == F.col("vec_id"))
            .select("doc_id", "embedding", project("embedding").alias("_s"))
            .select(
                "doc_id",
                "embedding",
                *[F.col("_s")[k].alias(f"s{k}") for k in range(_BTX_K)],
            )
            .withColumn("bucket", F.expr(_btx_assign_case()))
            .localCheckpoint(eager=True)
        )

    def t_probes():
        return (
            d.filter((F.col("lang") != "en") & (F.col("doc_id") < 64))
            .select("doc_id")
            .join(e, F.col("doc_id") == F.col("vec_id"))
            .select("doc_id", "embedding", project("embedding").alias("_s"))
            .select(
                "doc_id",
                "embedding",
                *[F.col("_s")[k].alias(f"s{k}") for k in range(_BTX_K)],
            )
            .localCheckpoint(eager=True)
        )

    en, probes = run_parallel(t_en, t_probes)
    plong = None
    for k in range(_BTX_K):
        arm = probes.select(
            "doc_id",
            "embedding",
            F.lit(k).alias("bucket"),
            F.col(f"s{k}").alias("s"),
        )
        plong = arm if plong is None else plong.unionByName(arm)
    ptop2 = (
        plong.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("s"), F.asc("bucket")
                )
            ),
        )
        .filter(F.col("rnk") <= 2)
        .select("doc_id", "embedding", "bucket")
    )
    pc = cosine_unrolled_sql("pemb", "cemb")
    # rank-1 as one aggregate: max over the (cs, -cand_id) total order
    # == ROW_NUMBER() OVER (ORDER BY cs DESC, cand_id ASC) rk=1 — same
    # comparisons, partially aggregable. Duplicate candidate rows from
    # the two probed buckets cannot change a max, so the bucketed arm
    # also drops its pre-rank distinct (one less exchange).
    top1 = F.max_by(
        F.col("cand_id"),
        F.struct(F.col("cs"), (-F.col("cand_id")).alias("nid")),
    ).alias("cand_id")

    def t_bru():
        return (
            probes.select(
                F.col("doc_id").alias("probe_id"),
                F.col("embedding").alias("pemb"),
            )
            .crossJoin(
                en.select(
                    F.col("doc_id").alias("cand_id"),
                    F.col("embedding").alias("cemb"),
                )
            )
            .select("probe_id", "cand_id", F.expr(pc).alias("cs"))
            .groupBy("probe_id")
            .agg(top1)
            .localCheckpoint(eager=True)
        )

    def t_bkt():
        return (
            ptop2.select(
                F.col("doc_id").alias("probe_id"),
                F.col("embedding").alias("pemb"),
                "bucket",
            )
            .join(
                en.select(
                    F.col("doc_id").alias("cand_id"),
                    F.col("embedding").alias("cemb"),
                    "bucket",
                ),
                "bucket",
            )
            .select("probe_id", "cand_id", F.expr(pc).alias("cs"))
            .groupBy("probe_id")
            .agg(top1)
            .select(
                F.col("probe_id").alias("kpid"),
                F.col("cand_id").alias("kcid"),
            )
            .localCheckpoint(eager=True)
        )

    bru, bkt = run_parallel(t_bru, t_bkt)
    n_probes = bru.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes")
    )
    n_match = (
        bru.join(bkt, (F.col("probe_id") == F.col("kpid")))
        .filter(F.col("cand_id") == F.col("kcid"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_top1_match_nprobe2")
        )
    )
    return n_probes.crossJoin(F.broadcast(n_match)).select(
        "n_probes", "n_top1_match_nprobe2"
    )

"""Charter text-analysis operators beyond SURVEY §2.2.I's core set:
language-ID, quality scoring, document fingerprinting, cosine
near-dup, SimHash fingerprints. All stay in JVM builtins (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.operators.dedup import (
    hashed_shingles,
    shingles_sql,
    simhash_64,
)
from fact_hive_custom_spark.operators.similarity import cosine_pairs
from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.tables import (
    EMB_CONTRACT_SQL,
    fan_out,
    load_embeddings,
    load_table,
)

# Tiny fixed n-gram profiles for the heuristic language scorer. On a
# real corpus these are the top character/token n-grams per language;
# they are literals so the operator is deterministic and oracle-able.
_EN_MARKERS = ("the", "a", "fast", "slow", "big", "small")
_DE_MARKERS = ("der", "die", "und", "ein", "nicht", "schnell")


@register(
    "q_llm_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains({list(_EN_MARKERS)}, t))) AS en_hits,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains({list(_DE_MARKERS)}, t))) AS de_hits,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang,
           ROUND(en_hits * 1.0 / n_tokens, 6) AS en_score,
           ROUND(de_hits * 1.0 / n_tokens, 6) AS de_score,
           CASE WHEN en_hits > de_hits THEN 'en'
                WHEN de_hits > en_hits THEN 'de'
                ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: token-marker hit-rates per language
    profile, argmax with a deterministic 'und' (undetermined) tie rule.
    One narrow pass — scores are higher-order-function lambdas over the
    token array, no shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en = F.size(F.filter(toks, lambda t: t.isin(*_EN_MARKERS)))
    de = F.size(F.filter(toks, lambda t: t.isin(*_DE_MARKERS)))
    n = F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.round(en / n, 6).alias("en_score"),
        F.round(de / n, 6).alias("de_score"),
        F.when(en > de, "en").when(de > en, "de").otherwise("und").alias("predicted_lang"),
    )


@register(
    "q_llm_quality_score",
    oracle="""
    WITH feat AS (
        SELECT doc_id,
               n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               length(text) - length(replace(text, 'a', '')) AS n_a
        FROM documents
    )
    SELECT doc_id, n_tokens,
           ROUND(n_distinct * 1.0 / n_tokens, 6) AS ttr,
           ROUND(n_chars * 1.0 / n_tokens, 6) AS avg_token_len,
           CAST(ROUND( (CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN n_distinct * 1.0 / n_tokens >= 0.3 THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN n_chars * 1.0 / n_tokens BETWEEN 3 AND 9 THEN 0.3 ELSE 0.0 END)
                     , 6) AS DOUBLE) AS quality
    FROM feat
    """,
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length band + type-token ratio +
    mean-token-length band folded into one [0,1] score (the standard
    pre-training corpus filter shape: cheap features, fixed weights)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    ttr = n_distinct / n_tokens
    avg_len = F.col("n_chars") / n_tokens
    quality = (
        F.when(n_tokens.between(20, 200), 0.4).otherwise(0.0)
        + F.when(ttr >= 0.3, 0.3).otherwise(0.0)
        + F.when(avg_len.between(3, 9), 0.3).otherwise(0.0)
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(quality, 6).alias("quality"),
    )


@register(
    "q_llm_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, greatest(len(t) - 2, 1)),
                      i -> md5(array_to_string(list_slice(t, i, i + 3), ' '))))) AS h
        FROM toks WHERE len(t) >= 4
    )
    SELECT doc_id,
           array_to_string(list_slice(list_sort(list(h)), 1, 4), ',') AS fingerprint
    FROM sh GROUP BY doc_id
    """,
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing-style): the 4 lexicographically
    smallest md5 digests of the document's 4-gram shingles. Near-dup
    documents share fingerprint entries (min-hash property), so an
    equality join on an exploded fingerprint finds dup candidates with
    a 4-row-per-doc index — the compact alternative to full MinHash
    signatures when index size matters. md5 (not xxhash) keeps the
    oracle engine-portable. Fingerprint serialized to a comma string:
    the driver's value-hash can't hash list cells.

    Tokens are projected to a bound column before the shingling lambda
    (inline split would re-tokenize per position — functions/text.py
    documents the 4.7× higher-order-function trap)."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split("text", " ").alias("toks"))
    n = F.size("toks")
    idx = F.when(n >= 4, F.sequence(F.lit(1), n - 3)).otherwise(F.array().cast("array<int>"))
    hashes = F.array_distinct(
        F.transform(idx, lambda i: F.md5(F.array_join(F.slice("toks", i, 4), " ")))
    )
    return toked.filter(n >= 4).select(
        "doc_id",
        F.concat_ws(",", F.slice(F.sort_array(hashes), 1, 4)).alias("fingerprint"),
    )


@register(
    "q_llm_cosine_dedup",
    oracle=f"""
    WITH emb AS ({EMB_CONTRACT_SQL}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v FROM emb),
    p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               array_cosine_similarity(a.v, b.v) AS c
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(c, 6) AS cosine FROM p WHERE c >= 0.5
    """,
)
def q_llm_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs above a similarity threshold.

    Computed via the pivot-partitioned EXACT search
    (operators/similarity.cosine_pairs): nearest-pivot assignment, then
    only cluster pairs passing the angular triangle-inequality bound are
    scored — the 100 TB plan, with output provably identical to the
    brute-force self-join the oracle runs. Sign-LSH banding is NOT used
    here because at threshold 0.5 its per-plane collision probability is
    2/3 and recall 1.0 is unreachable (measured); the LSH path serves
    the top-k workload (signlsh_topk) where misses are by design."""
    return cosine_pairs(load_embeddings(spark, sf_dir), threshold=0.5)


# Oracle recomputes the identical 60-bit portable SimHash in DuckDB:
# same md5-prefix token hash, same ±1 bit votes, same sign rule.
_SIMHASH_VOTES = ",\n               ".join(
    f"SUM(((h >> {i}) & 1) * 2 - 1) AS b{i}" for i in range(60)
)
_SIMHASH_FP = "\n             + ".join(
    f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)" for i in range(60)
)
_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    hashed AS (
        SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM toks
    ),
    votes AS (
        SELECT doc_id,
               {_SIMHASH_VOTES}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id,
           {_SIMHASH_FP} AS simhash
    FROM votes
"""


@register("q_llm_simhash", oracle=_SIMHASH_ORACLE)
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints per document (Charikar sketch) — the
    constant-size near-dup representation whose Hamming distance tracks
    token-set similarity; separation quality asserted in
    tests/test_operators.py.

    Uses the *portable* 60-bit md5-prefix hash family so the full
    fingerprint is recomputable (and hash-compared) in the DuckDB
    oracle; the xxhash64 64-bit family remains the default scale path
    in operators/dedup.simhash_64.
    """
    return simhash_64(load_table(spark, sf_dir, "documents"), portable=True)


@register(
    "q_llm_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    ttr AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(COUNT(DISTINCT token) * 1.0 / COUNT(*), 6) AS ttr
        FROM tok GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bg
        FROM toks WHERE len(t) >= 2
    ),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg),
    rep AS (
        SELECT doc_id,
               ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_bigram_frac,
               ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), 6)
                   AS dup_bigram_frac
        FROM bc GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tokens, t.ttr, r.top_bigram_frac, r.dup_bigram_frac,
           (t.ttr >= 0.3 AND r.dup_bigram_frac <= 0.6) AS keep
    FROM ttr t JOIN rep r ON t.doc_id = r.doc_id
    """,
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality filter (Gopher-style): type-
    token ratio, most-frequent-bigram share, and duplicated-bigram
    share per document, with a keep flag combining them.

    Two explodes of the token stream aggregated per doc_id — narrow
    shuffles on the doc key only; no text leaves the scan stage. At
    100 TB this is the same single-pass shape as q_llm_text_stats:
    repetition scoring is embarrassingly parallel per document.
    """
    d = load_table(spark, sf_dir, "documents")
    # bound tokens column: an inline split inside the bigram lambda
    # would re-tokenize the doc per position (functions/text.py trap)
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    tok = toked.select("doc_id", F.explode("t").alias("token"))
    ttr = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.countDistinct("token") / F.count(F.lit(1)), 6).alias("ttr"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.concat_ws(" ", F.slice("t", i, 2)),
    )
    bc = (
        toked.filter(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rep = bc.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"), 6
        ).alias("dup_bigram_frac"),
    )
    return ttr.join(rep, "doc_id").select(
        "doc_id",
        "n_tokens",
        "ttr",
        "top_bigram_frac",
        "dup_bigram_frac",
        ((F.col("ttr") >= 0.3) & (F.col("dup_bigram_frac") <= 0.6)).alias("keep"),
    )


@register(
    "q_llm_stratified_sample",
    oracle="""
    SELECT doc_id, source,
           CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS sample_rank
    FROM documents
    QUALIFY sample_rank <= 5
    """,
)
def q_llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly k=5 documents per
    source stratum, chosen by md5(doc_id) order — an eval-set carve
    that is reproducible across engines and runs (no RNG state).

    One window shuffle on the stratum key; at 100 TB k-per-stratum via
    TopK-per-partition beats a global sort, and the md5 order is
    uniform so no stratum's window partition is skewed beyond its own
    stratum size.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("bigint").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 5)
    )


@register(
    "q_llm_decontaminate",
    oracle=f"""
    WITH {shingles_sql(5)},
    ev AS (SELECT * FROM sh WHERE doc_id < 20),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id >= 20),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id),
    m AS (
        SELECT doc_id, COUNT(*) AS c FROM ev
        WHERE shingle IN (SELECT shingle FROM tr)
        GROUP BY doc_id
    )
    SELECT t.doc_id AS eval_id, t.n_shingles,
           COALESCE(m.c, 0) AS n_contaminated,
           ROUND(COALESCE(m.c, 0) * 1.0 / t.n_shingles, 6) AS containment,
           (COALESCE(m.c, 0) * 1.0 / t.n_shingles >= 0.5) AS flagged
    FROM tot t LEFT JOIN m ON t.doc_id = m.doc_id
    """,
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: 5-gram containment of each eval
    document (doc_id < 20 stands in for the benchmark set) against the
    whole training corpus, with a flag at ≥ 0.5 containment — the
    standard n-gram-overlap contamination check run before training.

    Shingles hash to longs map-side (operators/dedup.py
    hashed_shingles, the pair operators' frame); the train side
    dedupes to a distinct-shingle set and the check is one left-semi
    join on the hash — at 100 TB the eval side is tiny (benchmarks), so the join
    broadcasts and the training corpus is a single narrow pass that
    never shuffles text.
    """
    sh = hashed_shingles(load_table(spark, sf_dir, "documents"), k=5)
    ev = sh.filter(F.col("doc_id") < 20)
    tr = sh.filter(F.col("doc_id") >= 20).select("shingle").distinct()
    tot = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    m = (
        ev.join(tr, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_cont = F.coalesce(F.col("c"), F.lit(0).cast("bigint"))
    ratio = n_cont / F.col("n_shingles")
    return (
        tot.join(m, "doc_id", "left")
        .select(
            F.col("doc_id").alias("eval_id"),
            "n_shingles",
            n_cont.alias("n_contaminated"),
            F.round(ratio, 6).alias("containment"),
            (ratio >= 0.5).alias("flagged"),
        )
    )


@register(
    "q_llm_pack_sequences",
    oracle="""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT doc_id, source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS start_offset
        FROM sized
    )
    SELECT doc_id, source, n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS bin_id,
           CAST(start_offset % 256 AS BIGINT) AS offset_in_bin
    FROM placed
    """,
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing layout (concat-and-chunk): documents are
    concatenated in doc_id order within each source shard and every doc
    gets its context-window bin (budget 256 tokens) and offset — the
    deterministic packing plan an LLM pretraining loader executes.

    Packing is sequential by nature; sharding by source makes it
    embarrassingly parallel (one running-sum window per shard, no
    global sort). At 100 TB the shard key is the file/path prefix and
    each window partition is one task's worth of metadata (doc_id +
    token count only — text never enters the window).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = sized.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    )
    return placed.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / 256.0).cast("bigint").alias("bin_id"),
        (F.col("start_offset") % 256).alias("offset_in_bin"),
    )


@register(
    "q_llm_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]{1,4}')) AS bpe_tokens,
           ROUND(len(regexp_extract_all(text, '[a-z]{1,4}')) * 1.0 /
                 len(string_split(text, ' ')), 6) AS tokens_per_word
    FROM documents
    """,
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways the charter names: whitespace words and
    a BPE-ish greedy regex (≤4-char alpha chunks — a fixed-vocab
    subword proxy), plus the subword-inflation ratio used for token
    budgeting. One narrow codegen pass; the regex dialect is chosen to
    behave identically under Java regex (Spark) and RE2 (DuckDB).
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]{1,4}"), 0))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe / ws, 6).alias("tokens_per_word"),
    )


@register(
    "q_llm_mixture_sample",
    oracle="""
    WITH counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    isq AS (
        SELECT source, CAST(floor(sqrt(n)) AS BIGINT) AS sq FROM counts
    ),
    quota AS (
        SELECT source,
               CAST((200 * sq) // (SELECT CAST(SUM(sq) AS BIGINT) FROM isq)
                    AS BIGINT) AS q
        FROM isq
    ),
    ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS pick_rank
        FROM documents
    )
    SELECT r.doc_id, r.source, r.pick_rank
    FROM ranked r JOIN quota u ON r.source = u.source
    WHERE r.pick_rank <= u.q
    """,
)
def q_llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling: draw a ~200-doc corpus
    whose per-source quotas are proportional to sqrt(source mass) —
    the α=0.5 sampling temperature multilingual/multi-domain training
    uses to keep big sources from drowning small ones (cf. the
    sampling-exponent scheme popularized by multilingual LM training),
    downstream of q_llm_domain_mix's weight REPORT: this query
    materializes an actual sample.

    Determinism: quotas are pure integers — floor(sqrt(n)) is exact
    (sqrt is IEEE correctly-rounded, floor kills the tail) and the
    200·sq // Σsq split is integer division; document picks are
    md5-ranked per source (same carve as q_llm_stratified_sample), so
    both engines draw the identical sample.

    Scale: counts is a map-combined aggregate; quotas are a broadcast
    scalar; the rank window partitions by source. For k≪stratum at
    100 TB, swap row_number for a per-partition top-k as documented in
    q_llm_stratified_sample.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    isq = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("source", F.floor(F.sqrt("n")).cast("bigint").alias("sq"))
    )
    total = isq.agg(F.sum("sq").cast("bigint").alias("tot"))
    quota = isq.crossJoin(F.broadcast(total)).select(
        "source",
        F.expr("(200 * sq) div tot").cast("bigint").alias("q"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("bigint").alias("pick_rank"),
    )
    return ranked.join(F.broadcast(quota), "source").filter(
        F.col("pick_rank") <= F.col("q")
    ).select("doc_id", "source", "pick_rank")


_VOCAB_K = 50


@register(
    "q_llm_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        )
        QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= {_VOCAB_K}
    ),
    marked AS (
        SELECT t.source,
               CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS is_oov
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(SUM(is_oov) AS BIGINT) AS n_oov,
           CAST((CAST(SUM(is_oov) AS BIGINT) * 1000000) // COUNT(*)
                AS BIGINT) AS oov_ppm
    FROM marked
    GROUP BY source
    """,
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage report: build the top-50 corpus vocabulary
    (frequency, token tiebreak) and measure each source's
    out-of-vocabulary token rate in exact ppm — the tokenizer-fit
    check a training pipeline runs before committing to a vocab, and
    the per-domain drilldown that flags which source will fragment
    into subword soup.

    Two passes over the token stream, both scale-safe: the vocab pass
    is a map-combined count + TopK (never a global sort of the
    vocabulary); the scoring pass LEFT-JOINs against the 50-row vocab
    as a broadcast — the token stream itself never shuffles for the
    join, only for the final per-source aggregate. Integer ppm, no
    floats anywhere.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left").select(
        "source",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("is_oov"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("is_oov").cast("bigint").alias("n_oov"),
        F.expr("(CAST(SUM(is_oov) AS BIGINT) * 1000000) div COUNT(*)")
        .cast("bigint")
        .alias("oov_ppm"),
    )


_BUCKET_LADDER = "CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 " \
    "WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 " \
    "ELSE 512 END"


@register(
    "q_llm_length_bucket",
    oracle=f"""
    WITH t AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (
        SELECT CAST({_BUCKET_LADDER} AS BIGINT) AS bucket,
               least(n, 512) AS n
        FROM t
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST((COUNT(*) * bucket - CAST(SUM(n) AS BIGINT)) * 1000000
                // (COUNT(*) * bucket) AS BIGINT) AS pad_waste_ppm
    FROM b
    GROUP BY bucket
    """,
)
def q_llm_length_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing: assign each document to the next
    power-of-two token-length bucket (16…512) and report per-bucket
    document count, token mass, and padding waste in exact ppm — the
    batch-shaping analysis that decides a training run's bucket
    boundaries (padding waste is compute burned on pad tokens).

    The bucket boundary is an explicit integer CASE ladder, not
    ceil(log2(n)) — a float log at an exact power of two is a
    cross-engine knife edge (the q_llm_domain_mix lesson from r3);
    the ladder is branch-predictable codegen besides.

    Scale: tokenize → one map-combined groupBy on ≤6 bucket keys.
    The same bucket expression feeds repartitionByRange for the
    actual bucketed shard write.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = d.select(
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n")
    )
    # tokens beyond the top bucket are modeled as truncated-to-512
    # (the training-time behavior) so padding waste stays in [0, 1e6]
    # even if fixture drift ships very long documents
    b = t.select(
        F.expr(_BUCKET_LADDER).cast("bigint").alias("bucket"),
        F.least(F.col("n"), F.lit(512)).alias("n"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            F.expr(
                "(n_docs * bucket - total_tokens) * 1000000"
                " div (n_docs * bucket)"
            )
            .cast("bigint")
            .alias("pad_waste_ppm"),
        )
    )


@register(
    "q_llm_winnow",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT doc_id,
               unnest(generate_series(1, len(t) - 2)) AS pos,
               len(t) - 2 AS m
        FROM toks WHERE len(t) >= 3
    ),
    hashed AS (
        SELECT g.doc_id, g.pos, g.m,
               md5(array_to_string(list_slice(tk.t, g.pos, g.pos + 2), ' '))
                   AS h
        FROM grams g JOIN toks tk ON g.doc_id = tk.doc_id
    ),
    winmin AS (
        SELECT doc_id, pos, m,
               min(h) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        FROM hashed
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT sel) AS BIGINT) AS n_selected,
           array_to_string(list_slice(list_sort(list(DISTINCT sel)), 1, 4),
                           ',') AS winnow_head
    FROM winmin WHERE pos <= m - 3
    GROUP BY doc_id
    """,
)
def q_llm_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional winnowing fingerprint (Schleimer, Wilkerson, Aiken —
    SIGMOD'03 "local algorithms for document fingerprinting"): slide a
    w=4 window over the document's 3-gram hash sequence and select
    each window's MINIMUM hash. Unlike the global-min-k fingerprint
    (q_llm_fingerprint), winnowing GUARANTEES any shared substring of
    ≥ w+k-1 tokens produces a shared selected hash — the property
    plagiarism/near-dup pipelines rely on. Output: per-doc selected
    count + the 4 smallest selections (serialized — the driver's hash
    can't take list cells).

    Plan: tokens bound to a column before the gram lambda (the
    higher-order re-tokenization trap, functions/text.py), one
    explode, one window over (doc_id, pos) — hash order is md5-string
    lexicographic in both engines, so selections are engine-identical.

    Scale: selection density is 2/(w+1) ≈ 40% of grams; the output
    index (not the text) is what joins downstream — same shuffle
    discipline as the MinHash path.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toked = d.select("doc_id", F.split("text", " ").alias("toks"))
    n = F.size("toks")
    m = (n - 2).alias("m")
    g = (
        toked.filter(n >= 3)
        .select(
            "doc_id",
            "toks",
            m,
            F.explode(F.sequence(F.lit(1), n - 2)).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            "m",
            F.md5(F.array_join(F.slice("toks", F.col("pos"), 3), " ")).alias(
                "h"
            ),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
    )
    sel = g.select(
        "doc_id", "pos", "m", F.min("h").over(w).alias("sel")
    ).filter(F.col("pos") <= F.col("m") - 3)
    return sel.groupBy("doc_id").agg(
        F.countDistinct("sel").cast("bigint").alias("n_selected"),
        F.concat_ws(
            ",", F.slice(F.sort_array(F.collect_set("sel")), 1, 4)
        ).alias("winnow_head"),
    )


@register(
    "q_llm_lang_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains({list(_EN_MARKERS)}, t))) AS en_hits,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains({list(_DE_MARKERS)}, t))) AS de_hits
        FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    pred AS (
        SELECT lang AS label,
               CASE WHEN en_hits > de_hits THEN 'en'
                    WHEN de_hits > en_hits THEN 'de'
                    ELSE 'und' END AS predicted
        FROM scored
    ),
    cells AS (
        SELECT label, predicted, COUNT(*) AS n_docs FROM pred
        GROUP BY label, predicted
    )
    SELECT label, predicted, n_docs,
           CAST(1000000 * n_docs
                // SUM(n_docs) OVER (PARTITION BY label) AS BIGINT)
               AS row_ppm
    FROM cells
    ORDER BY label, predicted
    """,
)
def q_llm_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix: the q_llm_lang_id
    heuristic's predictions against the labeled lang column, with
    exact-ppm per-label (recall-row) shares — the eval step that turns
    any classifier query into a measured one (same shape serves a
    quality-score threshold or a safety filter audited against
    labels).

    Plan: the marker scoring is ONE codegen map pass (higher-order
    filter over the token array — no explode); the matrix aggregation
    is map-side combined to |labels|×|predictions| rows, and the
    row-normalizing window runs over that tiny cell table partitioned
    by label. At 100 TB: one narrow shuffle of cell partials, nothing
    else. The shared marker literals (_EN_MARKERS/_DE_MARKERS) keep
    this and q_llm_lang_id scoring the SAME heuristic — one source of
    truth, so the confusion matrix really audits that query's
    predictor."""
    scored = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            F.col("lang").alias("label"),
            F.size(
                F.filter(
                    F.split(F.col("text"), " "),
                    lambda t: F.array_contains(
                        F.array(*[F.lit(m) for m in _EN_MARKERS]), t
                    ),
                )
            ).alias("en_hits"),
            F.size(
                F.filter(
                    F.split(F.col("text"), " "),
                    lambda t: F.array_contains(
                        F.array(*[F.lit(m) for m in _DE_MARKERS]), t
                    ),
                )
            ).alias("de_hits"),
        )
    )
    pred = scored.select(
        "label",
        F.when(F.col("en_hits") > F.col("de_hits"), "en")
        .when(F.col("de_hits") > F.col("en_hits"), "de")
        .otherwise("und")
        .alias("predicted"),
    )
    cells = pred.groupBy("label", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from pyspark.sql import Window

    return (
        cells.withColumn(
            "tot", F.sum("n_docs").over(Window.partitionBy("label"))
        )
        .withColumn(
            "row_ppm",
            F.expr("CAST(1000000 * n_docs AS BIGINT) DIV tot").cast("bigint"),
        )
        .drop("tot")
        .orderBy("label", "predicted")
    )


@register(
    "q_llm_curriculum",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    ),
    phased AS (
        SELECT doc_id, n_tokens,
               ntile(4) OVER (ORDER BY n_tokens, doc_id) AS phase
        FROM d
    )
    SELECT phase,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM phased
    GROUP BY phase
    ORDER BY phase
    """,
)
def q_llm_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum phases: the corpus split into four
    quartile phases by token length (short→long is the classic
    curriculum-learning schedule — early phases train on short, easy
    sequences), reported as phase manifests.

    Plan: token counting is a map pass; the quartile assignment is
    ntile semantics DECOMPOSED over length bins (the q_orders_abc_class
    global-cumsum discipline, adopted round 11 when the
    TestBoundedGlobalWindows pin flagged the original corpus-wide
    ntile window): the corpus collapses to a length histogram (one
    map-combined count per distinct token length), a tiny global
    window cumsums the histogram into per-length rank offsets, each
    doc's exact global rank = offset + its row_number within its own
    length partition (parallel across lengths), and the closed-form
    ntile formula maps ranks to phases — bit-identical to the oracle's
    ntile OVER (ORDER BY n_tokens, doc_id) because both share that
    total order. No corpus-sized relation ever crosses one partition.
    The phase manifest is a 4-row aggregate; downstream, each phase's
    shard list feeds the q_dataset_shard layout unchanged."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
        )
    )
    from pyspark.sql import Window

    hist = d.groupBy("n_tokens").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = hist.select(
        "n_tokens",
        F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("off"),
    )
    ntot = hist.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    wlen = Window.partitionBy("n_tokens").orderBy("doc_id")
    phased = (
        d.join(F.broadcast(off), "n_tokens")
        .withColumn(
            "r", F.col("off") + F.row_number().over(wlen).cast("bigint")
        )
        .crossJoin(F.broadcast(ntot))
        .withColumn(
            "phase",
            F.expr(
                "CAST(CASE WHEN (n_total % 4) > 0"
                " AND r <= (n_total % 4) * (n_total DIV 4 + 1)"
                " THEN (r - 1) DIV (n_total DIV 4 + 1) + 1"
                " ELSE (n_total % 4)"
                "   + (r - 1 - (n_total % 4) * (n_total DIV 4 + 1))"
                "     DIV (n_total DIV 4) + 1 END AS INT)"
            ),
        )
    )
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("phase")
    )


@register(
    "q_llm_typicality",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    freq AS (
        SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
    ),
    ranked AS (
        SELECT term,
               row_number() OVER (ORDER BY cnt DESC, term) AS rnk
        FROM freq
    ),
    scored AS (
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               SUM(r.rnk) AS rank_sum
        FROM tok t JOIN ranked r USING (term)
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST((2 * rank_sum + n_tokens) // (2 * n_tokens) AS BIGINT)
               AS mean_rank
    FROM scored
    ORDER BY doc_id
    """,
)
def q_llm_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typicality scoring: each document's mean corpus-frequency RANK
    of its tokens (half-up exact integer) — a log-free perplexity
    proxy: low mean rank = common words = typical/boilerplate text,
    high = rare vocabulary (jargon, noise, other languages). The
    unigram-LM quality filter without a float log anywhere.

    Plan: one token explode feeds both the frequency table and the
    scoring join; the vocab ranking is a window over DISTINCT TERMS
    (vocabulary-sized, not corpus-sized — the global window runs on
    |vocab| rows and is the same documented exception as
    q_pareto_deciles), which then broadcasts back onto the token
    stream keyed by term. Mean rank uses the shared (2s+n) DIV 2n
    half-up rational (rank sums are positive). At 100 TB: two
    aggregations and a broadcast join; text never enters an
    exchange beyond its tokens."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    ranked = freq.select(
        "term",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("term")))
        .alias("rnk"),
    )
    scored = (
        tok.join(F.broadcast(ranked), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("rnk").alias("rank_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.expr("CAST((2 * rank_sum + n_tokens) DIV (2 * n_tokens) AS BIGINT)").alias(
            "mean_rank"
        ),
    ).orderBy("doc_id")


@register(
    "q_llm_ngram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(list_slice(t, i, i + 4), ' ')) AS h
        FROM toks, unnest(range(1, greatest(len(t) - 3, 1))) AS u(i)
        WHERE len(t) >= 5
    ),
    df AS (
        SELECT h, COUNT(*) AS n_docs FROM sh GROUP BY h
    )
    SELECT sh.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique,
           CAST((1000000 * SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN df ON df.h = sh.h
    GROUP BY sh.doc_id
    ORDER BY doc_id
    """,
)
def q_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    5-gram shingles that occur in no other document — the cheap
    memorization/boilerplate dial a curation pipeline reads before
    up-weighting 'novel' text (low novelty = template/duplicated
    content even when no doc-level dup fires; the complement of the
    span-dedup signal, scored per doc instead of per block).

    Shuffle discipline: shingle TEXT never enters an exchange — each
    5-gram is md5'd at the map side (the span_dedup block-hash rule),
    so the document-frequency groupBy and the count join move 16-byte
    keys regardless of shingle length. novelty_ppm is an exact
    integer floor (1e6·n_unique DIV n_shingles), no float ratio.

    Plan at 100 TB: explode-distinct, ONE groupBy on the hash for
    document frequency, hash-keyed join back (co-partitioned by AQE),
    and a per-doc aggregate — every exchange keys on h or doc_id;
    nothing is all-pairs, and hot shingles cost one skewed reduce key
    (AQE skew split handles it) rather than a candidate explosion."""
    # fan_out before the tokenize+md5 map stage (one row group locally
    # = one serial task otherwise; identity at scale — tables.fan_out)
    t = (
        fan_out(
            load_table(spark, sf_dir, "documents").filter(
                F.col("text").isNotNull()
            )
        )
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= 5)
    )
    sh = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 5),"
                    " s -> md5(array_join(slice(toks, s + 1, 5), ' ')))"
                )
            ).alias("h"),
        )
        .distinct()
    )
    df = sh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.expr("CAST((1000000 * n_unique) DIV n_shingles AS BIGINT)")
            .alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_llm_hapax_ttr",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    tc AS (
        SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST((1000000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_ppm,
           CAST((1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS hapax_ppm
    FROM tc
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_llm_hapax_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical richness: type-token ratio and the
    hapax-legomenon fraction (types occurring exactly once IN the
    doc) — the vocabulary-diversity dial a curation pipeline reads
    per document (q_llm_text_stats reports TTR per (lang, source)
    cohort; boilerplate and template text score low here even when
    cohort numbers look healthy, and token-repetition spam scores
    near zero). Exact integer ppm floors for both ratios.

    Plan: one map-combined (doc, token) count is the only corpus-
    sized exchange (keys: doc_id + token — the zipf wordcount shape,
    co-keyed by doc), then a per-doc aggregate reusing the same
    doc_id prefix. No window, no join; at 100 TB this is two
    exchanges of count rows, both shrinking with distinctness."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
    )
    tc = tok.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        tc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("CAST((1000000 * n_types) DIV n_tokens AS BIGINT)")
            .alias("ttr_ppm"),
            F.expr("CAST((1000000 * n_hapax) DIV n_types AS BIGINT)")
            .alias("hapax_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_llm_token_entropy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY doc_id, token
    ),
    d AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(cnt * CAST(floor(ln(cnt) * 1000000 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS swl
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           CAST(floor(ln(n_tokens) * 1000000 + 0.5) AS BIGINT)
               - swl // n_tokens AS entropy_e6,
           CASE WHEN n_types > 1 THEN
               ((CAST(floor(ln(n_tokens) * 1000000 + 0.5) AS BIGINT)
                 - swl // n_tokens) * 1000000)
               // CAST(floor(ln(n_types) * 1000000 + 0.5) AS BIGINT)
           END AS norm_entropy_ppm
    FROM d
    ORDER BY doc_id
    """,
)
def q_llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon token entropy H = ln n − (Σ c·ln c)/n —
    the repetition/diversity quality signal at DOCUMENT granularity
    (q_llm_diversity's Gini–Simpson is per-source; boilerplate and
    keyword-stuffed docs sit at the low end of H, natural prose near
    ln(n_types)). norm_entropy_ppm = H/ln(n_types) rescales to [0,1]
    so docs of different lengths rank on one axis.

    Float discipline: the ONLY floats are ln of exact integers (cnt,
    n_tokens, n_types), each pinned to e6 half-up BEFORE any sum or
    division (the bigram_ppl rule) — the per-doc Σ c·L(c), the DIV n,
    and the ppm normalization are pure integer arithmetic, so both
    engines agree bit-for-bit.

    Plan: explode → ONE (doc_id, token) map-combined count (the
    diversity/hapax skeleton, keyed on doc_id so token hot-keys don't
    skew — every shuffle key carries the doc), then a per-doc
    re-aggregation over distinct types. Two exchanges total, both
    keyed on doc_id; nothing global."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
    )
    c = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    d = c.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(
            F.expr(
                "cnt * CAST(floor(ln(cnt) * 1000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("swl"),
    )
    h = (
        "CAST(floor(ln(n_tokens) * 1000000 + 0.5) AS BIGINT)"
        " - swl DIV n_tokens"
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.expr(h).alias("entropy_e6"),
        F.expr(
            f"CASE WHEN n_types > 1 THEN (({h}) * 1000000)"
            f" DIV CAST(floor(ln(n_types) * 1000000 + 0.5) AS BIGINT)"
            f" END"
        ).alias("norm_entropy_ppm"),
    ).orderBy("doc_id")


@register(
    "q_llm_reservoir_sample",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS rk
        FROM documents
    )
    SELECT source, doc_id, rk FROM ranked WHERE rk <= 5
    """,
)
def q_llm_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k sample per source (k=5) — the
    reproducible eyeball-sample every corpus audit starts from. The
    reservoir is simulated with a keyed hash order (md5 of the doc
    id): ranking by the hash IS a uniform permutation, so the k
    winners match a seeded reservoir pass but stay engine-portable
    and re-runnable — the same doc ids come back on every engine and
    every rerun, unlike rand()-based sampling.

    Plan: a single window ranks (doc_id, hash) pairs per source —
    no text enters the exchange (the projection is pruned to two
    scalar columns + the computed hash). At 100 TB this is the
    map-side TakeOrderedAndProject shape per source shard; for
    pathologically hot sources, pre-aggregate per partition with the
    same (hash, id) key — the two-stage salted top-k in
    corpus.pq_adc_topk is the template."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
    )


@register(
    "q_llm_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT)
                   AS bpe_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS n_words,
           CAST(SUM(bpe_tokens) AS BIGINT) AS n_subwords,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST((CAST(SUM(bpe_tokens) AS HUGEINT) * 1000000)
                // SUM(ws_tokens) AS BIGINT) AS fertility_ppm,
           CAST((CAST(SUM(n_chars) AS HUGEINT) * 1000000)
                // SUM(bpe_tokens) AS BIGINT) AS chars_per_subword_ppm
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def q_llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: subword-per-word ratio
    (fertility) and characters-per-subword for the BPE-ish greedy
    regex tokenizer (q_llm_token_count's ≤4-char alpha-chunk proxy) —
    the per-domain token-budget planner's table (fertility drives
    cost per word; chars/subword tracks compression). All ratios are
    exact floored ppm over exact bigint sums; the e6 products run in
    DECIMAL(38,0)/HUGEINT (headroom to ~1e26 chars).

    Plan: one narrow map pass computes the three per-doc counts in
    codegen (no explode — counting only), then a map-combined
    groupBy on source; the exchange carries |sources| partial rows."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]{1,4}"), 0)
        ).cast("bigint").alias("bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("n_words"),
            F.sum("bpe_tokens").cast("bigint").alias("n_subwords"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.expr(
                "CAST((CAST(SUM(bpe_tokens) AS DECIMAL(38,0)) * 1000000)"
                " DIV SUM(ws_tokens) AS BIGINT)"
            ).alias("fertility_ppm"),
            F.expr(
                "CAST((CAST(SUM(n_chars) AS DECIMAL(38,0)) * 1000000)"
                " DIV SUM(bpe_tokens) AS BIGINT)"
            ).alias("chars_per_subword_ppm"),
        )
        .orderBy("source")
    )


@register(
    "q_llm_length_percentiles",
    oracle="""
    WITH l AS (
        SELECT source, CAST(length(text) AS BIGINT) AS len, doc_id
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT source, len,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY len, doc_id
               ) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM l
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN len END) AS BIGINT)
               AS p50_chars,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN len END) AS BIGINT)
               AS p90_chars,
           CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN len END)
               AS BIGINT) AS p99_chars,
           CAST(MAX(len) AS BIGINT) AS max_chars
    FROM r GROUP BY source ORDER BY source
    """,
)
def q_llm_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source document-length percentiles (p50/p90/p99 by
    the discrete lower-ceil convention rank = ⌈q·n⌉, plus max) — the
    length-budget table behind context-window planning and chunk-size
    tuning, exact where q_agg_approx_pct is sketched. Percentile
    values are picked by rank from the length-sorted order, so ties
    in length cannot make engines disagree (the value at a rank is a
    property of the sorted multiset; the doc_id tiebreak only fixes
    WHICH row carries it).

    Plan: one source-partitioned rank window over (len, doc_id)
    pairs — text never enters the exchange (projection pruned to two
    scalars) — then a map-combined conditional aggregate per source.
    At 100 TB each window partition is one source shard; for a
    single giant source, pre-bucket by length range and offset ranks
    (the standard distributed exact-percentile split)."""
    from pyspark.sql import Window

    # NULL texts are unorderable in the rank window (Spark sorts
    # NULLS FIRST, DuckDB LAST — the q_event_transitions lesson):
    # quarantine them identically on both engines.
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    l = d.select(
        "source",
        F.length("text").cast("bigint").alias("len"),
        "doc_id",
    )
    r = l.select(
        "source",
        "len",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("len", "doc_id"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.max(F.expr("CASE WHEN rn = (n + 1) DIV 2 THEN len END"))
            .cast("bigint")
            .alias("p50_chars"),
            F.max(F.expr("CASE WHEN rn = (9 * n + 9) DIV 10 THEN len END"))
            .cast("bigint")
            .alias("p90_chars"),
            F.max(F.expr("CASE WHEN rn = (99 * n + 99) DIV 100 THEN len END"))
            .cast("bigint")
            .alias("p99_chars"),
            F.max("len").cast("bigint").alias("max_chars"),
        )
        .orderBy("source")
    )


@register(
    "q_llm_charfreq_kl",
    oracle="""
    WITH ch AS (
        SELECT source, unnest(regexp_extract_all(text, '[a-z]')) AS c
        FROM documents
    ),
    sc AS (
        SELECT source, c, CAST(COUNT(*) AS BIGINT) AS n
        FROM ch GROUP BY source, c
    ),
    st AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS ts FROM sc GROUP BY source
    ),
    ct AS (
        SELECT c, CAST(SUM(n) AS BIGINT) AS nc FROM sc GROUP BY c
    ),
    tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tc FROM sc),
    terms AS (
        SELECT sc.source, sc.n, st.ts,
               CAST(floor(ln(CAST(sc.n AS DOUBLE) * tt.tc
                             / (CAST(st.ts AS DOUBLE) * ct.nc))
                    * 1000000 + 0.5) AS BIGINT) AS term_e6
        FROM sc JOIN st USING (source)
                JOIN ct USING (c)
                CROSS JOIN tt
    )
    SELECT source,
           CAST(MAX(ts) AS BIGINT) AS n_chars,
           CAST(CAST(SUM(CAST(n AS HUGEINT) * term_e6) AS HUGEINT)
                // MAX(ts) AS BIGINT) AS kl_e6
    FROM terms GROUP BY source ORDER BY source
    """,
)
def q_llm_charfreq_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-distribution drift: KL(source ‖ corpus)
    over the [a-z] letter distribution — the cheap encoding/language
    drift detector corpus monitoring runs per shard (a source whose
    letter histogram diverges from the corpus is mojibake, another
    language, or spam). KL = Σ_c p(c|s)·ln(p(c|s)/p(c)) with each
    cell's single DOUBLE ln floor-pinned to e6 (chisq discipline —
    the ratio is composed as double(n)·tc / (double(ts)·nc), same
    shape both engines), then the weighted sum runs in exact
    integers: kl_e6 = Σ n·term_e6 DIV ts with HUGEINT/DECIMAL(38,0)
    headroom.

    Plan: one regexp scan fans characters out map-side into a
    ≤|sources|·26-cell count (map-combined); marginals re-aggregate
    the CELL table, never the corpus; everything after the first
    exchange is algebra on ≤ a few hundred rows."""
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]"), 0)
        ).alias("c"),
    )
    sc = ch.groupBy("source", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    st = sc.groupBy("source").agg(F.sum("n").cast("bigint").alias("ts"))
    ct = sc.groupBy("c").agg(F.sum("n").cast("bigint").alias("nc"))
    tt = sc.agg(F.sum("n").cast("bigint").alias("tc"))
    terms = (
        sc.join(st, "source")
        .join(ct, "c")
        .crossJoin(F.broadcast(tt))
        .select(
            "source",
            "n",
            "ts",
            F.expr(
                "CAST(floor(ln(CAST(n AS DOUBLE) * tc"
                " / (CAST(ts AS DOUBLE) * nc)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("term_e6"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("ts").cast("bigint").alias("n_chars"),
            F.expr(
                "CAST(CAST(SUM(CAST(n AS DECIMAL(38,0)) * term_e6)"
                " AS DECIMAL(38,0)) DIV MAX(ts) AS BIGINT)"
            ).alias("kl_e6"),
        )
        .orderBy("source")
    )


_SH_BANDS = 6  # 6 bands × 10 bits over the 60-bit fingerprint
_SH_RADIUS = 5  # pigeonhole-exact: hamming ≤ 5 ⇒ ≥1 of 6 bands equal


@register(
    "q_llm_simhash_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT * FROM ({_SIMHASH_ORACLE.strip()})
    ),
    bands AS (
        SELECT doc_id, simhash, i,
               (simhash >> (i * 10)) & 1023 AS bv
        FROM sh, unnest(generate_series(0, {_SH_BANDS - 1})) AS t(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bands a JOIN bands b
          ON a.i = b.i AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {_SH_RADIUS}
    ORDER BY doc_a, doc_b
    """,
)
def q_llm_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at Hamming radius ≤ 5 via banded LSH —
    the candidate-generation stage q_llm_simhash's fingerprints exist
    for, completing the SimHash dedup path end to end (the media
    perceptual-hash dedup's discipline applied to text): the 60-bit
    fingerprint splits into 6 bands of 10 bits, and by pigeonhole any
    pair within Hamming 5 agrees on at least one band — so the banded
    equi-join is EXACT at this radius (zero false negatives), and the
    bit_count(xor) verification prunes band-collision false positives.

    Plan: band fan-out is map-side (6 rows per doc, 8-byte values);
    the only shuffle keys on (band_idx, band_value) — near-dup pairs
    collide, everything else hashes apart; verification touches only
    banded candidates (never all pairs). At 100 TB this is the
    standard Hamming-LSH join: candidate volume is governed by the
    10-bit band entropy (the media twin's PLAN_SNAPSHOT.json `volume`)."""
    sh = q_llm_simhash(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"sequence(0, {_SH_BANDS - 1})")).alias("i"),
    ).select(
        "doc_id",
        "simhash",
        "i",
        F.expr("shiftright(simhash, i * 10) & 1023").alias("bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SH_RADIUS)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "q_llm_xval_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         ::BIGINT % 10 < 8 THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         ::BIGINT % 10 = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST((COUNT(*) * 1000000)
                // (SELECT COUNT(*) FROM documents) AS BIGINT) AS share_ppm
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def q_llm_xval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-free id
    hash (md5(doc_id) mod 10) with per-split doc and token accounting
    — the reproducible split every training run pins down; hashing
    the ID (never the text) means re-crawled or edited documents stay
    in their split (no leakage across dataset versions), and the
    split is re-derivable on any engine — no stored assignment table.
    share_ppm documents the realized (not nominal) ratios.

    Plan: one narrow map pass assigns splits in codegen, one 3-key
    map-combined aggregate; the denominator is a 1-row broadcast
    staple. At 100 TB this is the split recipe itself — ship the
    hash rule, not a membership list."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT) % 10"
    )
    assigned = d.select(
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    total = d.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "split",
            "n_docs",
            "n_tokens",
            F.expr("CAST((n_docs * 1000000) DIV total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("split")
    )


@register(
    "q_llm_js_divergence",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    ),
    sc AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS a
        FROM tok GROUP BY source, token
    ),
    st AS (
        SELECT source, CAST(SUM(a) AS BIGINT) AS a_tot
        FROM sc GROUP BY source
    ),
    ct AS (
        SELECT token, CAST(SUM(a) AS BIGINT) AS c FROM sc GROUP BY token
    ),
    tt AS (SELECT CAST(SUM(a) AS BIGINT) AS t FROM sc),
    cells AS (
        SELECT sc.source, sc.token, sc.a,
               ct.c - sc.a AS b,
               st.a_tot AS aa,
               tt.t - st.a_tot AS bb
        FROM sc JOIN st USING (source)
                JOIN ct USING (token)
                CROSS JOIN tt
    ),
    terms AS (
        SELECT source, aa, bb,
               CAST(floor(ln(2.0 * a * bb / (CAST(a AS DOUBLE) * bb
                                             + CAST(b AS DOUBLE) * aa))
                    * 1000000 + 0.5) AS BIGINT) AS lp_e6,
               CASE WHEN b > 0 THEN
                   CAST(floor(ln(2.0 * b * aa / (CAST(a AS DOUBLE) * bb
                                                 + CAST(b AS DOUBLE) * aa))
                        * 1000000 + 0.5) AS BIGINT) END AS lq_e6,
               a, b
        FROM cells WHERE bb > 0
    ),
    sums AS (
        SELECT source,
               CAST(MAX(aa) AS BIGINT) AS n_tok_src,
               CAST(MAX(bb) AS BIGINT) AS n_tok_rest,
               CAST(SUM(CAST(a AS HUGEINT) * lp_e6) AS HUGEINT) AS np,
               CAST(SUM(CASE WHEN b > 0
                    THEN CAST(b AS HUGEINT) * lq_e6 ELSE 0 END)
                    AS HUGEINT)
                 + (CAST(MAX(bb) AS HUGEINT)
                    - CAST(SUM(CAST(b AS HUGEINT)) AS HUGEINT)) * 693147
                 AS nq
        FROM terms GROUP BY source
    )
    SELECT source, n_tok_src, n_tok_rest,
           CAST(CASE WHEN np >= 0 THEN np // (2 * CAST(n_tok_src AS HUGEINT))
                ELSE -((-np) // (2 * CAST(n_tok_src AS HUGEINT))) END
              + CASE WHEN nq >= 0 THEN nq // (2 * CAST(n_tok_rest AS HUGEINT))
                ELSE -((-nq) // (2 * CAST(n_tok_rest AS HUGEINT))) END
              AS BIGINT) AS js_e6
    FROM sums ORDER BY source
    """,
)
def q_llm_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence of the token distribution
    against the REST of the corpus - the symmetric, bounded (<= ln 2)
    drift score dataset cards report where q_llm_charfreq_kl's KL is
    asymmetric and unbounded. JS(P||Q) = 1/2 KL(P||M) + 1/2 KL(Q||M),
    M = (P+Q)/2, with P = the source's distribution and Q = the
    complement's, computed from ONE shared count table (b = corpus
    count minus source count - the rest-distribution needs no second
    scan).

    Exactness: each cell's ln(p/m) = ln(2aB/(aB+bA)) and
    ln(q/m) = ln(2bA/(aB+bA)) is ONE DOUBLE ln of integer products
    composed character-identically on both engines (a*B <= ~5e14 at
    sf1.0, inside the 2^53 exact-integer window; past that, pre-scale
    the counts - documented trade-off), floor-pinned to e6; the
    weighted sums then run in exact integers and the two final
    divisions are sign-symmetric truncation spelled as the same CASE
    on both engines (cells where p < m go negative even though each
    KL total is >= 0 - the theil_e6 lesson). Tokens absent from the
    source (a = 0, b > 0) have no sparse cell, but their KL(Q||M)
    contribution is NOT zero: p = 0 makes m = q/2, so each adds
    (b/B)*ln2 - accounted in closed form as
    (B - SUM(b over the source's cells)) * 693147 added to nq, so
    disjoint sources correctly score ln2, not ln2/2. b = 0 cells
    skip the q-term (q = 0 contributes zero to KL(Q||M)). A source
    comprising the ENTIRE corpus (B = 0) is dropped - JS against an
    empty complement is undefined, identically on both engines.

    Plan: one tokenize scan map-combines to (source, token) cells;
    the source and corpus marginals re-aggregate the CELL table (not
    the corpus); everything downstream is algebra on |sources| rows.
    Same cost shape as q_llm_charfreq_kl: the tokenize shuffle IS the
    query."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    tok = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    sc = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    st = sc.groupBy("source").agg(F.sum("a").cast("bigint").alias("a_tot"))
    ct = sc.groupBy("token").agg(F.sum("a").cast("bigint").alias("c"))
    tt = sc.agg(F.sum("a").cast("bigint").alias("t"))
    cells = (
        sc.join(st, "source")
        .join(ct, "token")
        .crossJoin(F.broadcast(tt))
        .select(
            "source",
            "token",
            "a",
            (F.col("c") - F.col("a")).alias("b"),
            F.col("a_tot").alias("aa"),
            (F.col("t") - F.col("a_tot")).alias("bb"),
        )
        .filter(F.col("bb") > 0)
    )
    terms = cells.select(
        "source",
        "aa",
        "bb",
        "a",
        "b",
        F.expr(
            "CAST(floor(ln(2.0 * a * bb / (CAST(a AS DOUBLE) * bb"
            " + CAST(b AS DOUBLE) * aa)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("lp_e6"),
        F.expr(
            "CASE WHEN b > 0 THEN"
            " CAST(floor(ln(2.0 * b * aa / (CAST(a AS DOUBLE) * bb"
            " + CAST(b AS DOUBLE) * aa)) * 1000000 + 0.5) AS BIGINT) END"
        ).alias("lq_e6"),
    )
    d38 = "DECIMAL(38,0)"
    sums = terms.groupBy("source").agg(
        F.max("aa").cast("bigint").alias("n_tok_src"),
        F.max("bb").cast("bigint").alias("n_tok_rest"),
        F.sum(F.expr(f"CAST(a AS {d38}) * lp_e6")).cast(d38).alias("np"),
        (
            F.sum(
                F.expr(
                    f"CASE WHEN b > 0 THEN CAST(b AS {d38}) * lq_e6"
                    f" ELSE CAST(0 AS {d38}) END"
                )
            ).cast(d38)
            # Rest-only mass: tokens the source never emits have p = 0,
            # m = q/2, so each contributes (b/B)*ln2 to KL(Q||M).  Those
            # cells don't exist in the sparse per-source table, so their
            # total weight is B - SUM(b over this source's cells), priced
            # at ln2 pinned to e6 (floor(ln 2 * 1e6 + 0.5) = 693147).
            + (
                F.max("bb").cast(d38)
                - F.sum(F.expr(f"CAST(b AS {d38})")).cast(d38)
            )
            * F.lit(693147).cast(d38)
        )
        .cast(d38)
        .alias("nq"),
    )
    from fact_hive_custom_spark.queries.stats import _dfloor

    def _symdiv(num: str, den: str) -> str:
        return (
            f"CASE WHEN {num} >= 0 THEN " + _dfloor(num, den)
            + f" ELSE -(" + _dfloor(f"-({num})", den) + ") END"
        )

    return sums.select(
        "source",
        "n_tok_src",
        "n_tok_rest",
        F.expr(
            "CAST("
            + _symdiv("np", f"2 * CAST(n_tok_src AS {d38})")
            + " + "
            + _symdiv("nq", f"2 * CAST(n_tok_rest AS {d38})")
            + " AS BIGINT)"
        ).alias("js_e6"),
    ).orderBy("source")


@register(
    "q_llm_dsir",
    oracle="""
    WITH tgt AS (SELECT MIN(source) AS t FROM documents
                 WHERE source IS NOT NULL),
    tok AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    bt AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(token), 1, 15))::BIGINT % 1024 AS b
        FROM tok
    ),
    buckets AS (
        SELECT b,
               CAST(SUM(CASE WHEN source = (SELECT t FROM tgt)
                        THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(COUNT(*) AS BIGINT) AS cr
        FROM bt GROUP BY b
    ),
    tot AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS t_tok,
               CAST(SUM(cr) AS BIGINT) AS r_tok
        FROM buckets
    ),
    term AS (
        SELECT b,
               CAST(floor(ln(CAST(ct + 1 AS DOUBLE) * (r_tok + 1024)
                             / (CAST(cr + 1 AS DOUBLE) * (t_tok + 1024)))
                    * 1000000 + 0.5) AS BIGINT) AS w_e6
        FROM buckets CROSS JOIN tot
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w_e6) AS BIGINT) AS dsir_e6
    FROM bt JOIN term USING (b)
    GROUP BY doc_id, source
    ORDER BY dsir_e6 DESC, doc_id
    LIMIT 50
    """,
)
def q_llm_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR document scoring (Data Selection with Importance
    Resampling, Xie et al. 2023 - public method): rank raw-corpus
    documents by their log importance weight under a TARGET
    distribution, sum over tokens of ln(p_target/p_raw) estimated on
    HASHED n-gram buckets - the cheap, vocabulary-free selector used
    to pick pretraining data that "looks like" a trusted corpus. Here
    the target is the lexicographically smallest source (a stand-in
    for a curated slice), features are unigrams hashed into 1024
    buckets via md5 (both engines hash UTF-8 bytes identically), and
    both distributions are add-1 smoothed over the bucket space.
    Emits the top-50 docs by weight (doc_id-tiebroken).

    Cross-engine determinism: exactly 1024 ln calls - one per bucket,
    on an integer-product ratio composed character-identically
    ((ct+1)*(R+1024) <= ~1e14 at sf1.0, inside the 2^53 window),
    floor-pinned to e6; every per-document weight is then an EXACT
    integer sum of its tokens' bucket terms, so ordering and LIMIT
    are stable under the doc_id tiebreak.

    Plan: DSIR's inherent two-pass shape - pass 1 tokenizes and
    map-combines to the 1024 (bucket) cells with the target flag
    folded into the same aggregate; pass 2 re-tokenizes and scores
    through ONE BroadcastHashJoin against the 1024-row term table,
    with the per-doc aggregate map-side combinable and the top-50 a
    TakeOrderedAndProject heap (never a global sort). At 100 TB both
    passes are embarrassingly parallel scans - DSIR's selling point
    (no model, no embedding) is preserved exactly; to make pass 2 a
    read instead of a re-scan, materialize() the tokenized relation
    (as q_llm_kmeans does its quantized corpus)."""
    # fan_out(documents) was tried here (r16) and measured a wash
    # (paired 1.8/2.0 → 2.1 s): per-token md5 into 1024 buckets is a
    # light map stage and both passes re-exchange immediately
    # (groupBy(b) / groupBy(doc_id)); reverted to keep the plan lean.
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tgt = (
        d.filter(F.col("source").isNotNull())
        .agg(F.min("source").alias("t"))
    )
    bt = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
        .select(
            "doc_id",
            "source",
            F.expr(
                "CAST(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT)"
                " % 1024"
            ).alias("b"),
        )
    )
    buckets = (
        bt.crossJoin(F.broadcast(tgt))
        .groupBy("b")
        .agg(
            F.sum(
                F.when(F.col("source") == F.col("t"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("ct"),
            F.count(F.lit(1)).cast("bigint").alias("cr"),
        )
    )
    tot = buckets.agg(
        F.sum("ct").cast("bigint").alias("t_tok"),
        F.sum("cr").cast("bigint").alias("r_tok"),
    )
    term = buckets.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            "CAST(floor(ln(CAST(ct + 1 AS DOUBLE) * (r_tok + 1024)"
            " / (CAST(cr + 1 AS DOUBLE) * (t_tok + 1024)))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("w_e6"),
    )
    return (
        bt.join(F.broadcast(term), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w_e6").cast("bigint").alias("dsir_e6"),
        )
        .orderBy(F.desc("dsir_e6"), "doc_id")
        .limit(50)
    )

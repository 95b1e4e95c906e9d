"""Text-analysis operators for training-data pipelines over `documents`.

Beyond-reference surface (BASELINE.json north star): language-ID heuristic,
quality scoring, token counting, document fingerprinting. All built-in
column functions — no Python UDFs — so the hot path stays in whole-stage
codegen and scales linearly with data at 100 TB (pure map-side work, one
shuffle only at the final per-group aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_demo_spark.functions import davg
from iceberg_demo_spark.registry import query
from iceberg_demo_spark.cache import (
    pin as _pin,
    pin_checkpoint as _pin_ckpt,
    pin_checkpoint_lazy as _pin_ckpt_lazy,
)
from iceberg_demo_spark.sources import load_tables


def tokens_col(col: str = "text"):
    """Whitespace tokens (documents are single-space separated)."""
    return F.split(F.col(col), " ")


# ---------------------------------------------------------------------------
# Token counting
# ---------------------------------------------------------------------------

@query(
    "doc_token_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MAX(len(string_split(text, ' '))) AS max_tokens,
           MIN(len(string_split(text, ' '))) AS min_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    n_tok = F.size(tokens_col())
    return (
        t["documents"]
        .select("lang", "n_chars", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            davg(F.col("n_tok")).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_tok").alias("max_tokens"),
            F.min("n_tok").alias("min_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Quality scoring: stopword ratio + mean word length buckets
# ---------------------------------------------------------------------------

@query(
    "doc_quality_buckets",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tok,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
      FROM documents
    )
    SELECT lang,
           CAST(FLOOR(10.0 * n_stop / n_tok) AS INT) AS stop_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM scored
    GROUP BY lang, stop_decile
    ORDER BY lang, stop_decile
    """,
)
def doc_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    toks = tokens_col()
    stopwords = ("the", "a", "of", "and", "to")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*stopwords)))
    scored = t["documents"].select(
        "lang",
        F.size(toks).alias("n_tok"),
        n_stop.alias("n_stop"),
    )
    return (
        scored.groupBy(
            "lang",
            F.floor(10.0 * F.col("n_stop") / F.col("n_tok")).cast("int").alias("stop_decile"),
        )
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
        .orderBy("lang", "stop_decile")
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: marker-word voting, compared against the labeled lang
# ---------------------------------------------------------------------------

_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
}


@query(
    "doc_langid_confusion",
    oracle="""
    WITH pred AS (
      SELECT lang,
             CASE WHEN len(list_filter(string_split(text,' '), t -> t IN ('the','and','of'))) > 0 THEN 'en'
                  WHEN len(list_filter(string_split(text,' '), t -> t IN ('el','la','de'))) > 0 THEN 'es'
                  WHEN len(list_filter(string_split(text,' '), t -> t IN ('le','la','et'))) > 0 THEN 'fr'
                  WHEN len(list_filter(string_split(text,' '), t -> t IN ('der','die','und'))) > 0 THEN 'de'
                  ELSE 'und' END AS predicted
      FROM documents
    )
    SELECT lang, predicted, COUNT(*) AS n_docs
    FROM pred
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
)
def doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    toks = tokens_col()

    def hits(markers):
        # NB: single-param lambda only — PySpark treats a second lambda
        # parameter as the element index.
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    predicted = (
        F.when(hits(_MARKERS["en"]) > 0, "en")
        .when(hits(_MARKERS["es"]) > 0, "es")
        .when(hits(_MARKERS["fr"]) > 0, "fr")
        .when(hits(_MARKERS["de"]) > 0, "de")
        .otherwise("und")
    )
    return (
        t["documents"]
        .select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 content hash + length histogram
# ---------------------------------------------------------------------------

@query(
    "doc_fingerprints",
    oracle="""
    SELECT source,
           COUNT(DISTINCT md5(lower(text))) AS n_unique,
           COUNT(*) AS n_docs,
           MIN(md5(lower(text))) AS min_fp
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    fp = F.md5(F.lower(F.col("text")))
    return (
        t["documents"]
        .select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.countDistinct("fp").alias("n_unique"),
            F.count("*").alias("n_docs"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization (subword-style pre-tokenizer counts)
# ---------------------------------------------------------------------------

#: GPT-2-style pre-tokenizer shape: letter runs | digit runs | single
#: punctuation marks. Same regex dialect subset works in Java (Spark) and
#: RE2 (DuckDB), so counts match bit-for-bit.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "doc_bpe_token_stats",
    oracle=f"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
           ROUND(CAST(SUM(CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS DECIMAL(18,4))) AS DOUBLE)
                 / SUM(len(string_split(text, ' '))), 4) AS bpe_per_word
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counts next to whitespace words: the
    tokens-per-word ratio is the classic tokenizer-cost estimator for
    training-data budgeting. Pure regexp column work — JVM-side, no UDF."""
    t = load_tables(spark, sf_dir, ("documents",))
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))
    ws = F.size(tokens_col())
    return (
        t["documents"]
        .select("lang", bpe.alias("n_bpe"), ws.alias("n_ws"))
        .groupBy("lang")
        .agg(
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.round(
                F.sum(F.col("n_bpe").cast("decimal(18,4)")).cast("double")
                / F.sum("n_ws"), 4).alias("bpe_per_word"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Rolling-hash fingerprint (windowed content hashes, stride-sampled)
# ---------------------------------------------------------------------------

_FP_WIDTH = 32
_FP_STRIDE = 16


@query(
    "doc_rolling_fingerprints",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang,
             list_min(list_transform(
               range(1, greatest(2, n_chars - {_FP_WIDTH - 1}) + 1, {_FP_STRIDE}),
               i -> md5(substring(text, CAST(i AS INT), {_FP_WIDTH}))
             )) AS fingerprint
      FROM documents
    )
    SELECT lang,
           COUNT(DISTINCT fingerprint) AS n_unique,
           COUNT(*) AS n_docs,
           MIN(fingerprint) AS min_fp
    FROM fp
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed content fingerprint: hash every {width}-char window at
    {stride}-char steps, keep the minimum (a winnowing-style robust
    fingerprint — stable under small edits outside the minimal window,
    unlike whole-document hashes). The rolling-hash formulation is the O(1)
    incremental update of exactly these window hashes; with a fixed stride
    the windowed form is equivalent and stays in whole-stage codegen."""
    t = load_tables(spark, sf_dir, ("documents",))
    fp = F.expr(
        f"array_min(transform(sequence(1, greatest(2, n_chars - {_FP_WIDTH - 1}), "
        f"{_FP_STRIDE}), i -> md5(substring(text, i, {_FP_WIDTH}))))"
    )
    return (
        t["documents"]
        .select("lang", fp.alias("fingerprint"))
        .groupBy("lang")
        .agg(
            F.countDistinct("fingerprint").alias("n_unique"),
            F.count("*").alias("n_docs"),
            F.min("fingerprint").alias("min_fp"),
        )
        .orderBy("lang")
    )


@query(
    "doc_zipf_slope",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), c AS (
      SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ), r AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, token) AS rank
      FROM c
    ), t AS (
      SELECT source, ln(rank) AS x, ln(c) AS y FROM r WHERE rank <= 100
    ), s AS (
      SELECT source, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(20,12))) AS sx,
             SUM(CAST(y AS DECIMAL(20,12))) AS sy,
             SUM(CAST(x * y AS DECIMAL(20,12))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(20,12))) AS sxx
      FROM t GROUP BY source HAVING COUNT(*) > 1
    )
    SELECT source, n AS n_top_tokens,
           ROUND((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 4) AS zipf_slope
    FROM s
    ORDER BY source
    """,
)
def doc_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-fit diagnostic (round 6): per source, the least-squares slope
    of ln(token frequency) against ln(rank) over the top-100 tokens —
    natural text sits near -1; templated or synthetic text drifts, so a
    per-source slope is a cheap corpus-health signal for training-data
    mixes.

    Determinism: ln of exact integer counts/ranks is bit-identical in
    both engines; all regression sums run over exact decimals (order-
    independent), and the closed-form slope is then a fixed double
    expression.

    Scale shape: one (source, token) count shuffle with map-side
    combine, a per-source rank window over the DISTINCT-token frame
    (≤ vocabulary, not corpus, rows), and a ≤100-row-per-source
    regression aggregate."""
    t = load_tables(spark, sf_dir, ("documents",))
    counts = (
        t["documents"]
        .select("source", F.explode(tokens_col()).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), "token")
    top = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 100)
        .select("source",
                F.log(F.col("rank").cast("double")).alias("x"),
                F.log(F.col("c").cast("double")).alias("y"))
    )
    dec = "decimal(20,12)"
    s = (
        top.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("x").cast(dec)).alias("sx"),
             F.sum(F.col("y").cast(dec)).alias("sy"),
             F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
             F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"))
        .filter(F.col("n") > 1)
    )
    slope = (
        (F.col("n") * F.col("sxy").cast("double")
         - F.col("sx").cast("double") * F.col("sy").cast("double"))
        / (F.col("n") * F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double"))
    )
    return (
        s.select("source", F.col("n").alias("n_top_tokens"),
                 F.round(slope, 4).alias("zipf_slope"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (round 6): score every document against a fixed
# keyword query with Okapi BM25 and return the top matches.  This is the
# retrieval primitive of a training-data pipeline (quality-targeted
# sampling, seed-document expansion, eval-set curation) layered on the
# same token statistics TF-IDF uses.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("dup", "spark", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "doc_bm25_search",
    oracle="""
    WITH stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
               / COUNT(*) AS avgdl
      FROM documents
    ),
    toks AS (
      SELECT doc_id, u.tok,
             len(string_split(text, ' ')) AS dl
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE u.tok IN ('dup', 'spark', 'merge')
    ),
    tf AS (
      SELECT doc_id, tok, dl, COUNT(*) AS tf
      FROM toks GROUP BY doc_id, tok, dl
    ),
    df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ),
    contrib AS (
      SELECT t.doc_id,
             CAST(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (t.tf * (1.2 + 1))
               / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))
               AS DECIMAL(20,12)) AS c
      FROM tf t JOIN df d USING (tok) CROSS JOIN stats s
    )
    SELECT doc_id,
           ROUND(CAST(SUM(c) AS DOUBLE), 4) AS bm25
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 15
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 documents for a fixed keyword query.

    score(D) = Σ_t  ln(1 + (N - df_t + ½)/(df_t + ½))
                    · tf_tD (k₁+1) / (tf_tD + k₁ (1 - b + b·|D|/avgdl))
    with the standard k₁=1.2, b=0.75.

    Determinism: tf/df/dl/N are exact integers; avgdl is one double
    division of exact integers; each per-(doc,term) contribution is a
    fixed double expression of those (IEEE-identical per row in both
    engines), cast to DECIMAL(20,12) before the order-independent
    per-doc sum — the zipf-slope technique.

    Scale shape: the IN-filter on query terms prunes the exploded token
    stream map-side to ~|q|·matching rows, so the tf shuffle carries only
    candidate postings (this IS an inverted-index probe expressed
    relationally); df is a |q|-row aggregate (broadcast join back); the
    corpus-wide (N, avgdl) scalar is one tiny aggregate crossed in. Final
    top-k is TakeOrderedAndProject — no global sort materializes.
    """
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"].select(
        "doc_id",
        F.explode(tokens_col()).alias("tok"),
        F.size(tokens_col()).alias("dl"),
    )
    stats = t["documents"].agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(tokens_col())).cast("double")
         / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    joined = tf.join(F.broadcast(df), "tok").crossJoin(F.broadcast(stats))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (F.col("tf")
           + _BM25_K1 * (1 - _BM25_B
                         + _BM25_B * F.col("dl") / F.col("avgdl")))
    ).cast("decimal(20,12)")
    return (
        joined.select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("c").cast("double"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Token-entropy quality statistics (round 6): Shannon entropy of each
# document's unigram distribution, aggregated per source.  Low-entropy
# documents are repetitive/templated (boilerplate, spam, generation
# loops); per-source entropy is a corpus-health signal next to the Zipf
# slope and repetition metrics.
# ---------------------------------------------------------------------------

@query(
    "doc_token_entropy",
    oracle="""
    WITH tf AS (
      SELECT doc_id, u.tok, COUNT(*) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      GROUP BY doc_id, u.tok
    ),
    ent AS (
      SELECT f.doc_id, d.source,
             ln(CAST(SUM(f.tf) AS DOUBLE))
             - CAST(SUM(CAST(f.tf * ln(CAST(f.tf AS DOUBLE))
                             AS DECIMAL(20,12))) AS DOUBLE)
               / SUM(f.tf) AS h
      FROM tf f JOIN documents d USING (doc_id)
      GROUP BY f.doc_id, d.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(h AS DECIMAL(20,12))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_entropy,
           ROUND(MIN(h), 6) AS min_entropy,
           ROUND(MAX(h), 6) AS max_entropy
    FROM ent
    GROUP BY source
    ORDER BY source
    """,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy (nats) of document unigram distributions.

    H(D) = -Σ p ln p  with  p = tf/|D|  rewritten as
    H(D) = ln|D| - (Σ tf·ln tf)/|D|  so every floating-point term is a
    function of exact integers: ln of an exact int is IEEE-identical in
    both engines, the Σ tf·ln tf sum runs over DECIMAL(20,12) casts
    (order-independent), and |D| = Σ tf is exact. Per-doc H is then one
    fixed double expression; source-level avg uses the same decimal-sum
    technique and min/max are order-independent.

    Scale shape: `source` rides along from the scan (a constant within
    each doc_id group), so the whole query is one (doc_id, token) count
    shuffle with map-side combine, one per-doc aggregate co-partitioned
    on doc_id, and a tiny per-source frame — NO join back to the
    documents table (carrying the grouping-constant column is free;
    re-joining would shuffle the corpus-sized tf frame a second time).
    """
    t = load_tables(spark, sf_dir, ("documents",))
    tf = (
        t["documents"]
        .select("doc_id", "source", F.explode(tokens_col()).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dec = "decimal(20,12)"
    ent = (
        tf.groupBy("doc_id", "source")
        .agg(
            (F.log(F.sum("tf").cast("double"))
             - F.sum((F.col("tf")
                      * F.log(F.col("tf").cast("double"))).cast(dec))
               .cast("double")
               / F.sum("tf")).alias("h")
        )
    )
    return (
        ent.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum(F.col("h").cast(dec)).cast("double")
                    / F.count(F.lit(1)), 6).alias("avg_entropy"),
            F.round(F.min("h"), 6).alias("min_entropy"),
            F.round(F.max("h"), 6).alias("max_entropy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus bigram vocabulary induction (the first BPE merge-ranking step)
# ---------------------------------------------------------------------------

@query(
    "doc_bigram_vocab",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    bg AS (
      SELECT doc_id, tk[s::INT] || ' ' || tk[s::INT + 1] AS bigram
      FROM toks, UNNEST(range(1, len(tk))) AS t(s)
    )
    SELECT bigram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM bg
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 40
    """,
)
def doc_bigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-pair (bigram) frequency ranking — the first
    merge-candidate step of BPE/WordPiece vocabulary induction, run over
    the whole corpus rather than per document (contrast
    doc_bpe_token_stats, which scores documents against a FIXED merge
    table). Raw occurrence counts (not per-doc distinct — merge ranking
    weighs every occurrence) plus document spread, top 40 with a full
    deterministic tiebreak (count DESC, bigram ASC).

    Scale shape: the explode is a pure map ∝ corpus tokens; the count is
    one map-side-combined groupBy on the bigram key (high cardinality,
    distributes well — the head bigrams are exactly the rows partial
    aggregation collapses hardest); the top-40 is
    TakeOrderedAndProject, never a global sort. At 100 TB this is the
    canonical two-phase count — the same job that seeds a real BPE
    trainer's first merge."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = F.split(F.col("text"), " ")
    n = F.size(toks) - 1
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)))
    return (
        t["documents"]
        .select("doc_id", F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------

def lm_bigrams(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, *carry, w1, w2): the corpus bigram stream — shared by LM
    training and per-doc scoring so the two can never tokenize
    differently."""
    toks = F.split(F.col("text"), " ")
    n = F.size(F.col("t")) - 1
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>"))
    return (
        docs
        .select("doc_id", *carry, toks.alias("t"))
        .select("doc_id", *carry, "t", F.explode(idx).alias("i"))
        .select(
            "doc_id", *carry,
            F.expr("element_at(t, i)").alias("w1"),
            F.expr("element_at(t, i + 1)").alias("w2"),
        )
    )


def lm_ppm(bg: DataFrame) -> DataFrame:
    """The bigram LM table (w1, w2, ppm) from a bigram stream: P(w2|w1)
    = c(w1 w2)/c(w1) in exact integer ppm. Factored out (round 10) so
    the incremental curation tier can train on the STANDING corpus and
    persist the table — the frozen-quality-model discipline."""
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    # n1 = Σ_w2 c2 as a WINDOW over the (already tiny) LM frame — a
    # groupBy-then-join formulation re-derives the whole c2 lineage
    # (Catalyst does not CSE subtrees) and costs a THIRD corpus scan
    return c2.withColumn(
        "n1", F.sum("n2").over(Window.partitionBy("w1"))
    ).select("w1", "w2", F.expr("(1000000 * n2) div n1").alias("ppm"))


def lm_score(bg: DataFrame, lm: DataFrame, carry: tuple = ()) -> DataFrame:
    """Per-doc integer-mean bigram score under an EXPLICIT LM table —
    docs whose bigrams never hit the LM vocabulary drop out (inner
    join), exactly the composed pipeline's semantics."""
    return (
        bg.join(lm, ["w1", "w2"])
        .groupBy("doc_id", *carry)
        .agg(F.count(F.lit(1)).alias("n_bg"), F.sum("ppm").alias("s"))
        .select("doc_id", *carry, "n_bg",
                F.expr("s div n_bg").alias("doc_ppm"))
    )


def lm_doc_scores(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """Per-document bigram-LM quality scores (doc_id, *carry, doc_ppm)
    — the trainable core of doc_lm_quality_score, factored out so the
    composed curation pipeline (curation.py::doc_curation_pipeline) can
    reuse it verbatim. The LM is the corpus itself; train and score
    share ONE bigram stream definition (lm_bigrams → lm_ppm →
    lm_score). Two pruned corpus passes (train + score); unigram
    denominators are a window over the vocab-sized LM frame, never a
    third scan."""
    bg = lm_bigrams(docs, carry)
    return lm_score(bg, lm_ppm(bg), carry)


@query(
    "doc_lm_quality_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, lang, source, t[i] AS w1, t[i+1] AS w2
      FROM tok, UNNEST(range(1, len(t))) AS r(i)
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1
    ), lm AS (
      SELECT c2.w1, c2.w2, CAST((1000000 * n2) // n1 AS BIGINT) AS ppm
      FROM c2 JOIN c1 ON c2.w1 = c1.w1
    ), perdoc AS (
      SELECT doc_id, lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM(ppm) AS BIGINT) AS s
      FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id, lang, source
    ), d AS (
      SELECT doc_id, lang, source, CAST(s // n_bg AS BIGINT) AS doc_ppm
      FROM perdoc
    )
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_ppm) // COUNT(*) AS BIGINT) AS avg_ppm,
           MIN(doc_ppm) AS min_ppm, MAX(doc_ppm) AS max_ppm
    FROM d GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def doc_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM quality scoring — the CCNet/CC-Net
    perplexity-filter shape (train an n-gram LM, score every document,
    keep the fluent tail) as a first-class pipeline operator. The LM is
    the corpus itself: P(w2|w1) = c(w1 w2)/c(w1), kept in exact integer
    parts-per-million (``div``, never a float log) so the Spark and
    DuckDB sides have no float boundary anywhere; a document's score is
    the integer mean of its bigram ppm values, reported per
    (lang, source) with doc counts and min/max.

    Scale shape: the bigram stream is a pure map (split + sequence
    explode, no UDF) derived TWICE from the pruned parquet scan — once
    to train the LM, once to score — which at 100 TB is deliberately
    cheaper than persisting an exploded token stream ~8× the text
    bytes; the unigram denominators re-aggregate from the bigram
    counts as a window over the (vocab-sized) LM frame, never a third
    corpus pass (plan-pinned: exactly two document ReadSchemas, the
    scoring one text-only). Scoring joins the bigram stream to the LM
    on the (w1, w2) key: high cardinality, map-side-combinable counts,
    no skew beyond natural token frequency. A production run would add
    a min-count floor + top-K vocabulary cut to bound the LM table; at
    this corpus the full table is smaller than a shuffle partition.
    Documents with <2 tokens have no bigrams and drop out of scoring in
    both engines (no NULL-score branch)."""
    t = load_tables(spark, sf_dir, ("documents",))
    perdoc = lm_doc_scores(t["documents"], carry=("lang", "source"))
    return (
        perdoc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(doc_ppm) div count(1)").alias("avg_ppm"),
            F.min("doc_ppm").alias("min_ppm"),
            F.max("doc_ppm").alias("max_ppm"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# LM-threshold calibration sweep (late round 9)
# ---------------------------------------------------------------------------

#: the sweep brackets doc_curation_pipeline's fluency floor (33500)
_LM_SWEEP = (33000, 33250, 33500, 33750, 34000)


@query(
    "doc_lm_threshold_sweep",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM tok, UNNEST(range(1, len(t))) AS r(i)
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1
    ), lm AS (
      SELECT c2.w1, c2.w2, CAST((1000000 * n2) // n1 AS BIGINT) AS ppm
      FROM c2 JOIN c1 ON c2.w1 = c1.w1
    ), d AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS doc_ppm
      FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id
    )
    SELECT t.thr AS threshold_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_ppm >= t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST((10000 * SUM(CASE WHEN doc_ppm >= t.thr THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS keep_bps,
           CAST(SUM(CASE WHEN doc_ppm >= t.thr THEN n_bg + 1 ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM d CROSS JOIN (SELECT unnest([{", ".join(map(str, _LM_SWEEP))}])
                       AS thr) t
    GROUP BY t.thr ORDER BY t.thr
    """,
)
def doc_lm_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration yield curve for the bigram-LM quality score: the
    keep-rate and surviving-token mass at each candidate fluency floor —
    the table a pipeline owner reads BEFORE fixing a threshold (the
    composed pipeline's 33500 sits mid-sweep; CCNet picks its perplexity
    cutoffs from exactly this curve, usually per language bucket). Every
    approximate or thresholded operator in this engine ships its
    measured dial: this is the LM filter's.

    Scale shape: the two LM passes are doc_lm_quality_score's (train +
    score, vocab-sized LM frame in between); the sweep itself multiplies
    only the per-doc SCORE frame (one row per doc) by the
    len(_LM_SWEEP)-row literal threshold frame — a broadcast cross of a
    narrow aggregate, never the corpus — and the rollup shuffles
    #thresholds keys."""
    t = load_tables(spark, sf_dir, ("documents",))
    perdoc = lm_doc_scores(t["documents"])
    thr = spark.range(0).sparkSession.createDataFrame(
        [(x,) for x in _LM_SWEEP], "threshold_ppm bigint")
    kept = (F.col("doc_ppm") >= F.col("threshold_ppm")).cast("bigint")
    return (
        perdoc.crossJoin(F.broadcast(thr))
        .groupBy("threshold_ppm")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(kept).cast("bigint").alias("n_kept"),
             F.sum(kept * (F.col("n_bg") + 1)).cast("bigint")
             .alias("kept_tokens"))
        .select("threshold_ppm", "n_docs", "n_kept",
                F.expr("(10000 * n_kept) div n_docs").alias("keep_bps"),
                "kept_tokens")
        .orderBy("threshold_ppm")
    )


# ---------------------------------------------------------------------------
# BM25 over a PERSISTED inverted index (the served-retrieval tier)
# ---------------------------------------------------------------------------

#: term-bucket directory count for the postings layout — the partition-
#: pruning granularity of every probe
_TEXT_IDX_BUCKETS = 64


def ensure_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the standing inverted text index ONCE per SF: postings
    (tok, doc_id, tf, dl) written ``partitionBy(tok_bucket)`` (md5 term
    bucket — the directory key every probe prunes on), plus a one-row
    corpus-stats file (N, avgdl). Rebuilt whenever the SOURCE manifest
    (documents.parquet mtime+size) mismatches — an index keyed only by
    the sf-dir tag would silently serve stale rankings after a testdata
    regeneration (ADVICE r9 #3) — so bench reps measure the PROBE,
    exactly how a served retrieval system amortizes indexing."""
    import os

    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.operators.sampling import hash_bucket
    from iceberg_demo_spark.scratch import (
        index_current, scratch_path, write_index_manifest)

    path = scratch_path(f"glacier_text_idx_{_sf_tag(sf_dir)}")
    post = os.path.join(path, "postings")
    stats = os.path.join(path, "stats")
    # gate on the LAST artifacts written (manifest, then before it the
    # stats _SUCCESS): a crash mid-build must trigger a rebuild, not a
    # half-index reuse; a source-file change must too
    if not (index_current(path, sf_dir, ("documents",))
            and os.path.exists(os.path.join(stats, "_SUCCESS"))):
        t = load_tables(spark, sf_dir, ("documents",))
        toks = t["documents"].select(
            "doc_id", F.explode(tokens_col()).alias("tok"),
            F.size(tokens_col()).alias("dl"))
        (toks.groupBy("doc_id", "tok", "dl")
         .agg(F.count(F.lit(1)).alias("tf"))
         .withColumn("tok_bucket",
                     hash_bucket(F.col("tok")) % _TEXT_IDX_BUCKETS)
         .write.partitionBy("tok_bucket").mode("overwrite").parquet(post))
        (t["documents"].agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.size(tokens_col())).cast("double")
             / F.count(F.lit(1))).alias("avgdl"))
         .write.mode("overwrite").parquet(stats))
        write_index_manifest(path, sf_dir, ("documents",))
    return path


@query("doc_bm25_indexed", oracle=None)  # shares doc_bm25_search's oracle
def doc_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_bm25_search's ranking served from the PERSISTED inverted
    index — the access-path upgrade the relational form's docstring
    calls itself ("this IS an inverted-index probe expressed
    relationally"), made physical, completing the index-tier triad:
    dedup has ensure_dedup_index, ANN has the IVF lists, retrieval now
    has postings. A |q|-term query reads ONLY the ≤|q| term-bucket
    DIRECTORIES of the postings layout (PartitionFilters prune,
    plan-pinned — the corpus is never rescanned, never re-tokenized),
    filters to the exact terms, and reuses the identical BM25
    arithmetic; df comes from the probed postings themselves and (N,
    avgdl) from the one-row stats file. Shares doc_bm25_search's oracle
    verbatim: the layout must not change the ranking.

    Scale shape: probe I/O ∝ Σ_t |postings(bucket(t))| — independent of
    corpus size for selective terms; the index build is the one-time
    tokenize+count shuffle every later query no longer pays; append-only
    corpus growth appends postings into the same directory scheme. At
    100 TB the postings tier is the difference between interactive
    retrieval and a corpus scan per query."""
    import os

    path = ensure_text_index(spark, sf_dir)
    stats = spark.read.parquet(os.path.join(path, "stats"))
    return _bm25_index_probe(spark, os.path.join(path, "postings"), stats)


def _bm25_index_probe(spark: SparkSession, postings_path: str,
                      stats: DataFrame) -> DataFrame:
    """The bucket-pruned BM25 probe over ANY postings layout (one
    definition — the direct index, the fragmented tier and the
    compacted tier must rank identically): prune to the query terms'
    tok_bucket directories, filter to the exact terms, rank with the
    shared arithmetic. ``stats`` provides one row of (n_docs, avgdl)."""
    from iceberg_demo_spark.operators.sampling import hash_bucket

    buckets = spark.createDataFrame(
        [(t,) for t in _BM25_TERMS], "tok string").select(
        (hash_bucket(F.col("tok")) % _TEXT_IDX_BUCKETS).alias("b")
    ).collect()
    bucket_ids = sorted({r["b"] for r in buckets})
    post = (spark.read.parquet(postings_path)
            .filter(F.col("tok_bucket").isin(bucket_ids))
            .filter(F.col("tok").isin(*_BM25_TERMS)))
    df = post.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    joined = post.join(F.broadcast(df), "tok").crossJoin(F.broadcast(stats))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (F.col("tf")
           + _BM25_K1 * (1 - _BM25_B
                         + _BM25_B * F.col("dl") / F.col("avgdl")))
    ).cast("decimal(20,12)")
    return (
        joined.select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("c").cast("double"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


from iceberg_demo_spark.registry import ORACLES as _TEXTORACLES  # noqa: E402

_TEXTORACLES["doc_bm25_indexed"] = _TEXTORACLES["doc_bm25_search"]


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING (the merge loop itself, not just pair ranking)
# ---------------------------------------------------------------------------

#: BPE training geometry (round 10, VERDICT r9 #5): per round the pair
#: statistics are counted ONCE and a BATCH of mutually non-conflicting
#: merges is accepted — greedy over the ranked pool, the standard
#: batched-BPE trainer move — so a realistic vocabulary (≥64 merges;
#: the testdata vocab saturates at 89) is reached in 8 corpus-count
#: rounds instead of one round per merge.
_BPE_ROUNDS = 8     #: pair-count rounds (each unrolled in the oracle)
_BPE_BATCH_K = 16   #: max merges accepted per round
_BPE_POOL = 256     #: ranked candidate pool fed to the greedy selection


def _bpe_conflict(a: str, b: str, sel: list) -> bool:
    """True when pair (a, b) cannot join ``sel`` in one rewrite pass
    with sequential-greedy-equivalent semantics. Two selected pairs may
    not share a boundary symbol (p.b == q.a in either role — otherwise
    two matches could claim one symbol occurrence) and no pair may
    contain another's CONCATENATION (otherwise one merge would create
    or consume the other's matches mid-pass). Within one pair, a == b
    runs are legal — island parity resolves them. The equivalence is
    property-tested against the sequential reference
    (test_sketch_properties.py)."""
    ab = a + b
    for sa, sb, _ in sel:
        if (b == sa or a == sb or a == sa + sb or b == sa + sb
                or sa == ab or sb == ab):
            return True
    return False


def _bpe_select(ranked: list) -> list:
    """Greedy top-K non-conflicting selection over the ranked pool —
    the exact sequence the oracle's recursive CTE replays."""
    sel: list = []
    for a, b, cnt in ranked:
        if len(sel) >= _BPE_BATCH_K:
            break
        if not _bpe_conflict(a, b, sel):
            sel.append((a, b, cnt))
    return sel


#: the batched rewrite as ONE SQL statement (semantics identical to the
#: DataFrame chain it replaced — same windows, same island parity, same
#: null handling; mirrored by the oracle's k/x/y/z blocks). Built via
#: spark.sql(..., df=...) so the whole round costs ONE analyzer pass
#: instead of ~10 incremental ones: each DataFrame API call re-analyzes
#: the growing plan eagerly, and at vocab-frame size that driver-side
#: chatter — not execution — dominated the training loop (measured
#: ~0.38 s/round of pure plan build at sf0.1). {pred} is the selected
#: pairs as a LITERAL disjunction over parameter markers (bounded by
#: _BPE_BATCH_K ≤ 16 driver-held pairs): under AQE, a broadcast JOIN
#: against the ≤16-row selection frame cost one eagerly-executed
#: broadcast build per round at every localCheckpoint — ~0.35 s/round of
#: pure fixed latency on a 16-row relation (measured; the literal
#: predicate removed it, 0.65× on the gate).
_BPE_APPLY_SQL = """
WITH m AS (
  SELECT tok, f, pos, sym,
         lead(sym) OVER (PARTITION BY tok ORDER BY pos) AS nxt,
         row_number() OVER (PARTITION BY tok ORDER BY pos) AS rn
  FROM {df}
),
k AS (SELECT *, COALESCE({pred}, false) AS mt FROM m),
c AS (
  SELECT *, SUM(CAST(mt AS INT)) OVER (PARTITION BY tok ORDER BY pos) AS cm
  FROM k
),
x AS (SELECT *, CASE WHEN mt THEN rn - cm END AS isl FROM c),
y AS (
  SELECT *,
         mt AND ((rn - MIN(rn) OVER (PARTITION BY tok, isl)) % 2 = 0) AS sl
  FROM x
),
z AS (
  SELECT tok, f, pos,
         CASE WHEN sl THEN concat(sym, nxt) ELSE sym END AS sym,
         COALESCE(LAG(sl) OVER (PARTITION BY tok ORDER BY pos), false)
           AS consumed
  FROM y
)
SELECT tok, f, pos, sym FROM z WHERE NOT consumed
"""


def _bpe_apply_pairs(df: DataFrame, pairs: list[tuple[str, str]],
                     ) -> DataFrame:
    """The batched rewrite for a driver-held merge batch (≤ _BPE_BATCH_K
    pairs by the greedy selection's bound). Symbols reach the SQL as
    BOUND PARAMETERS, never by string interpolation — corpus-derived
    text cannot inject into the statement."""
    if not pairs:
        pred, args = "false", {}
    else:
        disj, args = [], {}
        for j, (a, b) in enumerate(pairs):
            disj.append(f"(sym = :a{j} AND nxt = :b{j})")
            args[f"a{j}"] = a
            args[f"b{j}"] = b
        pred = "(" + " OR ".join(disj) + ")"
    return df.sparkSession.sql(_BPE_APPLY_SQL.replace("{pred}", pred),
                               args=args, df=df)


def _bpe_apply(df: DataFrame, sel_df: DataFrame) -> DataFrame:
    """One batched BPE rewrite over the (tok, f, pos, sym) symbol frame:
    greedy left-to-right replacement of EVERY selected pair (a, b) → ab
    in every word, in one pass. The selection constraint makes matches
    of distinct pairs position-disjoint, so the only overlap left is a
    self-pair run ('aaaa' under (a, a)), resolved by island parity:
    consecutive matching ROWS form an island (gaps-and-islands on
    row_number − cumulative match count) and every even-offset match
    within it merges — the classic sequential semantics, computed with
    window functions only (_BPE_APPLY_SQL). ``sel_df`` is batch-bounded
    (≤ _BPE_BATCH_K rows) by every caller, so reading it back to the
    driver is a bounded planning read, not a data funnel."""
    pairs = [(r["a"], r["b"])
             for r in sel_df.select("a", "b").collect()]
    return _bpe_apply_pairs(df, pairs)


#: the recursive-CTE greedy selection, validated standalone against the
#: Python reference; {i} = round, {k}/{p} = batch size / pool size
_BPE_SEL_SQL = """
    pr{i} AS (
      SELECT sym AS a, nxt AS b, CAST(SUM(f) AS BIGINT) AS cnt
      FROM m{i} WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    rk{i} AS MATERIALIZED (
      SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a, b) AS r
      FROM (SELECT * FROM pr{i} ORDER BY cnt DESC, a, b LIMIT {p})
    ),
    g{i} AS (
      SELECT 0 AS r, []::VARCHAR[] AS la, []::VARCHAR[] AS lb
      UNION ALL
      SELECT rk.r,
             CASE WHEN ok AND len(g.la) < {k}
                  THEN list_append(g.la, rk.a) ELSE g.la END,
             CASE WHEN ok AND len(g.lb) < {k}
                  THEN list_append(g.lb, rk.b) ELSE g.lb END
      FROM g{i} g JOIN rk{i} rk ON rk.r = g.r + 1,
           LATERAL (SELECT NOT (
               list_contains(g.la, rk.b) OR list_contains(g.lb, rk.a)
               OR list_contains(list_transform(range(1, len(g.la) + 1),
                    j -> g.la[j] || g.lb[j]), rk.a)
               OR list_contains(list_transform(range(1, len(g.la) + 1),
                    j -> g.la[j] || g.lb[j]), rk.b)
               OR list_contains(g.la, rk.a || rk.b)
               OR list_contains(g.lb, rk.a || rk.b)) AS ok) c
    ),
    sel{i} AS MATERIALIZED (
      SELECT CAST(t.j AS BIGINT) AS sel_rank, la[t.j] AS a, lb[t.j] AS b
      FROM (SELECT la, lb FROM g{i} ORDER BY r DESC LIMIT 1),
           UNNEST(range(1, len(la) + 1)) AS t(j)
    )"""


def _bpe_oracle_parts(rounds: int) -> str:
    """The oracle's unrolled merge-loop CTE chain — one block per round
    (the _pagerank_sql_iterations pattern), MATERIALIZED where a frame
    feeds both the next round and an output; each round replays the
    greedy batch selection with a recursive CTE (callers must open the
    chain with WITH RECURSIVE). Shared by the training gate's merges
    SELECT and the encode/packing gates' per-source rollups."""
    parts = ["""
    wf AS MATERIALIZED (
      SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      GROUP BY u.tok
    ),
    s0 AS MATERIALIZED (
      SELECT tok, f, i AS pos, substr(tok, i::INT, 1) AS sym
      FROM wf, UNNEST(range(1, len(tok) + 1)) AS u(i)
    )"""]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""
    m{i} AS (
      SELECT tok, f, pos, sym,
             lead(sym) OVER (PARTITION BY tok ORDER BY pos) AS nxt,
             row_number() OVER (PARTITION BY tok ORDER BY pos) AS rn
      FROM s{p}
    ),{_BPE_SEL_SQL.format(i=i, k=_BPE_BATCH_K, p=_BPE_POOL)},
    k{i} AS (
      SELECT m.tok, m.f, m.pos, m.sym, m.nxt, m.rn,
             (s.a IS NOT NULL) AS match,
             SUM(CASE WHEN s.a IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY m.tok ORDER BY m.pos) AS cm
      FROM m{i} m LEFT JOIN sel{i} s ON s.a = m.sym AND s.b = m.nxt
    ),
    x{i} AS (
      SELECT *, CASE WHEN match THEN rn - cm END AS isl FROM k{i}
    ),
    y{i} AS (
      SELECT *, match AND (rn - MIN(rn) OVER (PARTITION BY tok, isl))
                          % 2 = 0 AS sel
      FROM x{i}
    ),
    z{i} AS (
      SELECT tok, f, pos,
             CASE WHEN sel THEN sym || nxt ELSE sym END AS sym,
             COALESCE(LAG(sel) OVER (PARTITION BY tok ORDER BY pos),
                      FALSE) AS consumed
      FROM y{i}
    ),
    s{i} AS MATERIALIZED (
      SELECT tok, f, pos, sym FROM z{i} WHERE NOT consumed
    )""")
    return ",".join(parts)


def _bpe_oracle(rounds: int) -> str:
    selects = [f"""
    SELECT {i} AS round, s.sel_rank, s.a, s.b, rk.cnt,
           (SELECT CAST(SUM(f) AS BIGINT) FROM s{i}) AS symbols_after,
           (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) FROM s{i})
             AS vocab_after
    FROM sel{i} s JOIN rk{i} rk USING (a, b)""" for i in range(1, rounds + 1)]
    return ("WITH RECURSIVE " + _bpe_oracle_parts(rounds) + ",\n"
            + "    allm AS (" + " UNION ALL ".join(selects) + ")\n"
            + "    SELECT CAST(row_number() OVER (ORDER BY round, sel_rank)"
            + " AS BIGINT) AS merge_rank, * FROM allm"
            + " ORDER BY merge_rank")


@query("doc_bpe_merges", oracle=_bpe_oracle(_BPE_ROUNDS))
def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING at realistic vocabulary (Sennrich et al.
    2016; batched per VERDICT r9 #5): starting from characters, each
    round counts frequency-weighted adjacent symbol pairs ONCE and
    accepts a greedy BATCH of up to 16 mutually non-conflicting merges
    (no shared boundary symbol, no pair containing another's
    concatenation — the constraint under which one rewrite pass is
    provably equivalent to applying the merges sequentially,
    property-tested), then rewrites every word in one pass. Eight
    rounds reach the ≥64-merge regime (the testdata vocabulary
    saturates at 89 merges — every further pair is blocked or gone).
    Output: one row per learned merge (global rank, round, within-round
    rank, pair, weighted count) plus the post-ROUND corpus state
    (weighted symbol total, symbol vocabulary).

    The load-bearing scale property is unchanged: the corpus is read
    ONCE, collapsing to the (word, frequency) VOCABULARY frame — every
    round then runs on vocab-sized data; the batch moves the
    rounds-per-merge constant from 1 to ~1/16, which is what makes a
    30k-merge production vocabulary ~2000 vocab-sized rounds instead of
    30k. Selection is a bounded planning read (top-256 ranked pairs
    collected, greedy in the driver); the oracle replays the IDENTICAL
    selection with a recursive CTE over the same ranked pool and the
    identical island-parity rewrite, unrolled per round (the
    _pagerank_sql_iterations pattern)."""
    t = load_tables(spark, sf_dir, ("documents",))
    out, _ = _bpe_train(spark, t["documents"])
    return out.orderBy("merge_rank")


#: per-round pool + stats as ONE SQL statement (see _BPE_APPLY_SQL for
#: why): top-_BPE_POOL weighted pair counts of the current symbol frame
#: (deterministic (cnt DESC, a, b) tiebreak, exactly the frame the
#: DataFrame chain produced) unioned with the frame's 1-row
#: (Σf, |vocab|) stats, tagged by _t for the driver-side split.
_BPE_POOL_SQL = """
SELECT 0 AS _t, a, b, cnt, CAST(NULL AS BIGINT) AS sa,
       CAST(NULL AS BIGINT) AS va
FROM (
  SELECT a, b, cnt
  FROM (
    SELECT sym AS a, b, SUM(f) AS cnt
    FROM (
      SELECT sym, f,
             lead(sym) OVER (PARTITION BY tok ORDER BY pos) AS b
      FROM {df}
    ) nx
    WHERE b IS NOT NULL
    GROUP BY sym, b
    ORDER BY cnt DESC, a, b
    LIMIT %(pool)d
  ) top
) pool
UNION ALL
SELECT 1, CAST(NULL AS STRING), CAST(NULL AS STRING),
       CAST(NULL AS BIGINT), CAST(SUM(f) AS BIGINT),
       CAST(COUNT(DISTINCT sym) AS BIGINT)
FROM {df}
""" % {"pool": _BPE_POOL}


def _bpe_train(spark: SparkSession, docs: DataFrame):
    """Collapse ``docs`` to the (word, frequency) vocabulary frame and
    run _BPE_ROUNDS batched merge rounds; returns (merges frame, final
    symbol frame) — shared by the training gate and the encode/packing
    gates."""
    wf = (docs
          .select(F.explode(tokens_col()).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("f")))
    # sequence(1, 0) runs DESCENDING in Spark (the emb_code_covariance
    # lesson): drop zero-length tokens so the empty word contributes no
    # symbol rows, exactly like the oracle's range(1, 1)
    seq = (wf
           .filter(F.length("tok") >= 1)
           .select("tok", "f",
                   F.explode(F.expr("sequence(1, length(tok))"))
                    .alias("pos"))
           .select("tok", "f", "pos",
                   F.expr("substring(tok, pos, 1)").alias("sym"))
           .transform(_pin_ckpt))
    _stats_aggs = (F.sum("f").cast("bigint").alias("sa"),
                   F.countDistinct("sym").alias("va"))
    out_rows: list[tuple] = []
    pending: list[tuple] = []  # current round's merges awaiting stats

    def _flush(sa: int, va: int) -> None:
        out_rows.extend((*p, sa, va) for p in pending)
        pending.clear()

    for i in range(1, _BPE_ROUNDS + 1):
        # ONE bounded job per round returns BOTH the ranked pair pool of
        # the current symbol frame AND the (symbols, vocab) stats of that
        # same frame — i.e. the PREVIOUS round's symbols_after/
        # vocab_after. The old shape hung 8 stats subtrees off the
        # output plan (8 broadcast jobs at final materialization) and
        # assembled the ≤(16×rounds)-row result distributively; all of
        # it is derivable from the bounded collects the loop already
        # pays for, so the result frame is now built driver-side from
        # ≤257 collected rows per round (the established
        # bounded-planning-read discipline). Built as ONE SQL statement
        # for the same reason as _BPE_APPLY_SQL: one analyzer pass per
        # round instead of ~8.
        pool_and_stats = seq.sparkSession.sql(_BPE_POOL_SQL, df=seq).collect()
        st = next(r for r in pool_and_stats if r["_t"] == 1)
        _flush(st["sa"], st["va"])
        ranked = sorted(((r["a"], r["b"], r["cnt"])
                         for r in pool_and_stats if r["_t"] == 0),
                        key=lambda x: (-x[2], x[0], x[1]))
        sel = _bpe_select(ranked)
        pending = [(i, j + 1, a, b, cnt)
                   for j, (a, b, cnt) in enumerate(sel)]
        if sel:
            # LAZY checkpoint: same lineage cut and exactly-once work per
            # round as the eager form, but NOT one job fewer — the status
            # store still lists a `localCheckpoint` execution with one job
            # per round next to the round's collect, because building the
            # RDD of an AQE plan with a window exchange materializes its
            # shuffle stage. The driver-held batch goes in as literal
            # parameters (_bpe_apply_pairs), never a joined frame.
            seq = (_bpe_apply_pairs(seq, [(a, b) for a, b, _ in sel])
                   .transform(_pin_ckpt_lazy))
    st = seq.agg(*_stats_aggs).collect()[0]
    _flush(st["sa"], st["va"])
    out = spark.createDataFrame(
        [(k + 1, *r) for k, r in enumerate(out_rows)],
        "merge_rank BIGINT, round INT, sel_rank BIGINT, a STRING, "
        "b STRING, cnt BIGINT, symbols_after BIGINT, vocab_after BIGINT")
    return out, seq


@query(
    "doc_bpe_encode",
    oracle=f"""
    WITH RECURSIVE {{parts}},
    tl AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS ntok
      FROM s{_BPE_ROUNDS} GROUP BY tok
    ),
    st AS (
      SELECT source, u.tok
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(tok)) AS BIGINT) AS n_chars,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST((10000 * SUM(ntok)) // SUM(len(tok)) AS BIGINT)
             AS tokens_per_char_bps
    FROM st JOIN tl USING (tok)
    GROUP BY source ORDER BY source
    """.replace("{parts}", _bpe_oracle_parts(_BPE_ROUNDS)),
)
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the tokenizer lifecycle: apply the merges
    doc_bpe_merges learns to the whole corpus and report per-source
    token accounting (words, chars, post-BPE tokens, tokens-per-char in
    bps — the fertility number a pretraining budget is priced in). The
    two gates chain exactly like mixture weights → materialize: train
    once, encode everywhere.

    Scale shape: training runs on the vocabulary frame (see
    doc_bpe_merges); encoding never touches symbol sequences again —
    each distinct word's post-merge TOKEN COUNT is a vocab-sized lookup
    table that joins onto the corpus word stream (broadcast at real
    vocab sizes: millions of words × one int). The corpus pays one
    tokenize pass + one aggregate; fertility per source falls out of
    the same join. Oracle nests the identical unrolled merge rounds
    (shared _bpe_oracle_parts) under the lookup join."""
    t = load_tables(spark, sf_dir, ("documents",))
    _, seq = _bpe_train(spark, t["documents"])
    tl = (seq.groupBy("tok")
          .agg(F.count(F.lit(1)).alias("ntok")))
    st = t["documents"].select(
        "source", F.explode(tokens_col()).alias("tok"))
    return (st.join(F.broadcast(tl), "tok")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
                 F.sum("ntok").cast("bigint").alias("n_tokens"))
            .select("source", "n_words", "n_chars", "n_tokens",
                    F.expr("(10000 * n_tokens) div n_chars")
                     .alias("tokens_per_char_bps"))
            .orderBy("source"))


@query(
    "doc_bpe_packing",
    oracle=f"""
    WITH RECURSIVE {{parts}},
    tl AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS ntok
      FROM s{_BPE_ROUNDS} GROUP BY tok
    ),
    st AS (
      SELECT source, doc_id, u.tok
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
    ),
    perdoc AS (
      SELECT source, doc_id, CAST(SUM(ntok) AS BIGINT) AS n_tok
      FROM st JOIN tl USING (tok)
      GROUP BY source, doc_id
    ),
    packed AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM perdoc
    ),
    flagged AS (
      SELECT source, n_tok, cum,
             CASE WHEN (cum - n_tok) // 2048 < (cum - 1) // 2048
                  THEN 1 ELSE 0 END AS boundary
      FROM packed
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(MAX(cum) AS BIGINT) AS total_tokens,
           CAST((MAX(cum) - 1) // 2048 + 1 AS BIGINT) AS n_seqs,
           CAST(SUM(boundary) AS BIGINT) AS n_boundary_docs,
           ROUND(100.0 * (MAX(cum) - ((MAX(cum) - 1) // 2048) * 2048)
                 / 2048, 2) AS last_fill_pct
    FROM flagged
    GROUP BY source
    ORDER BY source
    """.replace("{parts}", _bpe_oracle_parts(_BPE_ROUNDS)),
)
def doc_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing priced in REAL tokenizer tokens — the
    composition of doc_bpe_encode's fertility with
    doc_sequence_packing's budget math (the established
    weights→materialize chaining pattern): per-document post-BPE token
    counts come from the trained vocabulary lookup, and the per-source
    2048-token packing statistics (sequences, boundary-spanning docs,
    last-sequence fill) are computed over THOSE counts. Whitespace
    packing (the standalone gate) over- or under-budgets by exactly the
    fertility ratio; a loader budgets in tokenizer tokens, so this is
    the number that actually sizes a training run.

    Scale shape: training is vocab-sized (doc_bpe_merges); the corpus
    pays one tokenize pass into the broadcast vocab lookup + one
    per-doc aggregate + the per-source cumsum window — the same single
    wide exchange as doc_sequence_packing. last_fill_pct's ROUND is
    over an exactly-representable value (100·int / 2^11), the
    established packing-gate discipline."""
    t = load_tables(spark, sf_dir, ("documents",))
    _, seq = _bpe_train(spark, t["documents"])
    tl = seq.groupBy("tok").agg(F.count(F.lit(1)).alias("ntok"))
    perdoc = (t["documents"]
              .select("source", "doc_id",
                      F.explode(tokens_col()).alias("tok"))
              .join(F.broadcast(tl), "tok")
              .groupBy("source", "doc_id")
              .agg(F.sum("ntok").alias("n_tok")))
    b = 2048
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (perdoc
              .withColumn("cum", F.sum("n_tok").over(w))
              .withColumn("boundary",
                          F.when(F.expr(f"(cum - n_tok) DIV {b}")
                                 < F.expr(f"(cum - 1) DIV {b}"), 1)
                          .otherwise(0)))
    return (packed.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.max("cum").cast("bigint").alias("total_tokens"),
                 (F.expr(f"(max(cum) - 1) DIV {b}") + 1).cast("bigint")
                  .alias("n_seqs"),
                 F.sum("boundary").cast("bigint").alias("n_boundary_docs"),
                 F.round(100.0 * (F.max("cum")
                                  - F.expr(f"(max(cum) - 1) DIV {b}") * b)
                         / b, 2).alias("last_fill_pct"))
            .orderBy("source"))


def ensure_fragmented_text_index(spark: SparkSession, sf_dir: str,
                                 n_epochs: int = 3) -> str:
    """The small-files hazard on the TEXT index, materialized (the
    ensure_fragmented_dedup_index twin): the same postings as
    ensure_text_index but landed as ``n_epochs`` successive ingest-epoch
    APPENDS (doc_id mod 3 — the streaming batching scheme) into the
    partitionBy(tok_bucket) layout, so files-per-bucket grows one per
    epoch — exactly what append-only corpus growth produces. Corpus
    stats land as mergeable per-epoch (n_docs, sum_dl) rows; their sums
    divide to the IDENTICAL avgdl double the direct build computes.
    Built once per SF, source-manifest-guarded."""
    import os

    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.operators.sampling import hash_bucket
    from iceberg_demo_spark.scratch import (
        index_current, scratch_path, write_index_manifest)

    path = scratch_path(f"glacier_text_idxfrag_{_sf_tag(sf_dir)}")
    if index_current(path, sf_dir, ("documents",)):
        return path
    import shutil as _shutil

    _shutil.rmtree(path, ignore_errors=True)
    t = load_tables(spark, sf_dir, ("documents",))
    for e in range(n_epochs):
        docs = t["documents"].filter(F.col("doc_id") % n_epochs == e)
        toks = docs.select(
            "doc_id", F.explode(tokens_col()).alias("tok"),
            F.size(tokens_col()).alias("dl"))
        (toks.groupBy("doc_id", "tok", "dl")
         .agg(F.count(F.lit(1)).alias("tf"))
         .withColumn("tok_bucket",
                     hash_bucket(F.col("tok")) % _TEXT_IDX_BUCKETS)
         .write.partitionBy("tok_bucket").mode("append")
         .parquet(os.path.join(path, "postings")))
        (docs.agg(F.lit(e).alias("epoch"),
                  F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.size(tokens_col())).cast("bigint")
                   .alias("sum_dl"))
         .write.mode("append").parquet(os.path.join(path, "stats")))
    write_index_manifest(path, sf_dir, ("documents",))
    return path


def compact_text_index(spark: SparkSession, src_path: str,
                       dst_path: str) -> str:
    """Bin-pack an epoch-accumulated postings layout back to ONE file
    per tok_bucket directory: repartition on the PARTITION column (each
    directory's rows land whole in one task, so the partitioned writer
    emits exactly one file per directory) and rewrite under the same
    partitionBy spec into a fresh serving tier; the mergeable stats
    collapse to one row. Layout-only by construction — the postings SET
    is a disjoint-epoch union, so the probe answer cannot move (the
    gate shares the relational oracle to prove it).

    Scale shape: one bucket-keyed shuffle over postings (term/doc/count
    rows — far smaller than text), amortized over a maintenance window;
    at 100 TB it runs per-bucket-range while the live tier keeps taking
    appends."""
    import os
    import shutil as _shutil

    _shutil.rmtree(dst_path, ignore_errors=True)
    (spark.read.parquet(os.path.join(src_path, "postings"))
     .repartition(_TEXT_IDX_BUCKETS, "tok_bucket")
     .write.partitionBy("tok_bucket").mode("overwrite")
     .parquet(os.path.join(dst_path, "postings")))
    (spark.read.parquet(os.path.join(src_path, "stats"))
     .agg(F.sum("n_docs").cast("bigint").alias("n_docs"),
          F.sum("sum_dl").cast("bigint").alias("sum_dl"))
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(dst_path, "stats")))
    return dst_path


@query("doc_bm25_index_compact", oracle=None)  # shares doc_bm25_search's
def doc_bm25_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-index maintenance closes the third index family (round 10 —
    dedup got compaction in r9, ANN in r8): the postings tier
    accumulated as 3 ingest-epoch appends (files-per-bucket = 3, the
    streaming small-files drift) is bin-packed back to ONE file per
    term-bucket directory and the BM25 probe runs against the compacted
    tier — ranking IDENTICAL to doc_bm25_search (shared oracle: layout
    never changes answers) and to the direct-index probe (one shared
    _bm25_index_probe definition). In-gate assertions pin the
    files-per-bucket transition 3 → 1 on the probed buckets; corpus
    stats merge exactly (per-epoch (n_docs, sum_dl) sums divide to the
    identical avgdl double).

    Scale shape: the compaction pays one bucket-keyed shuffle over the
    postings rows; every later probe reads one file per probed bucket
    directory instead of one per ingest epoch — the read-amplification
    fix that keeps retrieval interactive under continuous corpus
    growth."""
    import glob as _glob
    import os

    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.operators.sampling import hash_bucket
    from iceberg_demo_spark.scratch import scratch_path

    frag = ensure_fragmented_text_index(spark, sf_dir)
    dst = scratch_path(f"glacier_text_idxcomp_{_sf_tag(sf_dir)}")
    compact_text_index(spark, frag, dst)

    def files_per_bucket(root: str) -> dict[int, int]:
        out = {}
        for d in _glob.glob(os.path.join(root, "postings",
                                         "tok_bucket=*")):
            b = int(d.rsplit("=", 1)[1])
            out[b] = len([f for f in os.listdir(d)
                          if f.endswith(".parquet")])
        return out

    probed = sorted({
        r["b"] for r in spark.createDataFrame(
            [(t,) for t in _BM25_TERMS], "tok string")
        .select((hash_bucket(F.col("tok")) % _TEXT_IDX_BUCKETS)
                .alias("b")).collect()})
    before, after = files_per_bucket(frag), files_per_bucket(dst)
    # aggregate fragmentation assertion (ADVICE r10): requiring >= 2
    # pre-compaction files in EVERY probed bucket is data-dependent —
    # a probed term appearing in only one ingest epoch's doc_id%3 slice
    # leaves its bucket single-file and the gate would raise instead of
    # returning. The invariant that matters is per-run: the probed
    # buckets were fragmented IN AGGREGATE and compaction left exactly
    # one file in each.
    n_before = sum(before.get(b, 0) for b in probed)
    assert n_before > len(probed), (
        f"probed buckets not fragmented in aggregate ({n_before} files "
        f"across {len(probed)} buckets) — the compaction premise fell "
        "over")
    for b in probed:
        assert after.get(b, 0) == 1, (
            f"bucket {b} still has {after.get(b, 0)} files after "
            "compaction")
    stats = spark.read.parquet(os.path.join(dst, "stats")).select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"))
    return _bm25_index_probe(spark, os.path.join(dst, "postings"), stats)


from iceberg_demo_spark.registry import ORACLES as _TXOR  # noqa: E402

_TXOR["doc_bm25_index_compact"] = _TXOR["doc_bm25_search"]

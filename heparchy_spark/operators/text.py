"""Text analysis operators — [ext] north-star pipeline ops (SURVEY.md §2.12).

Mostly column algebra (regexp/length/split), whole-stage-codegen friendly;
the Python steps (``fingerprint_df``'s vectorized hash fold, the per-row
byte signals, the tokenizer UDFs) run through ``functions.worker``.
Language ID is an n-gram/stopword heuristic (the container has no
langdetect libs); quality scoring follows the usual Gopher/C4-style cheap
signals (length, punctuation ratio, stopword ratio, mean word length).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

from heparchy_spark.functions.literals import sql_ident
from heparchy_spark.functions.worker import map_columns, map_rows, worker_fn

__all__ = [
    "token_count",
    "char_stats",
    "quality_score",
    "lang_id",
    "winnowing_fingerprints",
    "winnowing_overlap_pairs",
    "compression_signals",
    "fingerprint_df",
    "text_profile",
    "token_stream",
    "repetition_signals",
    "stopword_ratio_df",
    "token_frequencies",
    "PII_PATTERNS",
    "pii_counts",
    "pii_redact",
    "contamination_report",
    "filter_funnel",
    "bpe_ish_token_count",
    "bm25_topk",
    "chunk_documents",
    "word_freqs",
    "bpe_train",
    "bpe_encode_counts",
    "unigram_lm_train",
    "unigram_encode_counts",
    "lm_perplexity",
    "ngram_novelty",
    "rouge_l_pairs",
]

# Tiny per-language stopword lists for the heuristic scorer.  Public-knowledge
# common words; enough to separate major European languages on real text.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "pour", "une"],
    "es": ["el", "la", "los", "las", "es", "una", "para", "por", "con", "del"],
}


def token_count(col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: words + digits + punctuation marks counted
    separately (a cheap proxy for BPE token counts)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    return F.size(pieces)


def char_stats(col: Column | str) -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    digit = F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
    space = F.length(F.regexp_replace(c, r"[^\s]", "")).cast("double")
    punct = n - alpha - digit - space
    safe_n = F.when(n > 0, n).otherwise(F.lit(1.0))
    return {
        "n_chars": n.cast("long"),
        "alpha_ratio": alpha / safe_n,
        "digit_ratio": digit / safe_n,
        "space_ratio": space / safe_n,
        "punct_ratio": punct / safe_n,
    }


def quality_score(col: Column | str) -> Column:
    """Cheap document quality score in [0, 1]: length band + alpha ratio +
    mean word length band (C4-style heuristics, deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    stats = char_stats(c)
    ntok = token_count(c).cast("double")
    mean_word = F.when(ntok > 0, stats["n_chars"].cast("double") / ntok).otherwise(
        F.lit(0.0)
    )
    nchars = stats["n_chars"].cast("double")
    len_term = F.when((nchars >= 50) & (nchars <= 100000), 0.4).otherwise(0.0)
    alpha_term = F.least(stats["alpha_ratio"] / 0.7, F.lit(1.0)) * 0.3
    word_term = F.when((mean_word >= 3.0) & (mean_word <= 12.0), 0.3).otherwise(0.0)
    return len_term + alpha_term + word_term


def lang_id(col: Column | str) -> Column:
    """Stopword-vote language guess over {en,de,fr,es}, 'und' if no votes.

    Score per language = number of stopword types present (word-boundary
    regexp); argmax with deterministic tie-break by language code.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    padded = F.concat(F.lit(" "), F.regexp_replace(c, r"[^a-z]+", " "), F.lit(" "))
    scores = []
    for lang in sorted(_STOPWORDS):
        votes = [
            F.when(padded.contains(f" {w} "), 1).otherwise(0)
            for w in _STOPWORDS[lang]
        ]
        total = votes[0]
        for v in votes[1:]:
            total = total + v
        scores.append(F.struct(total.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint_df(
    df: DataFrame, text_col: str, id_col: str, ngram: int = 4
) -> DataFrame:
    """(id, fp64): 64-bit document fingerprints, an xxhash64 fold over
    the character n-gram hashes of the normalized text (order-sensitive,
    locality-free — a content identity, cheaper than sha2 for joins).
    The fold runs from 0 in gram order, ``acc = xxhash64(acc,
    xxhash64(gram))``; text shorter than ``ngram`` characters hashes
    whole and null text gives 42.  Mirror:
    ``tools/build_expected.fingerprint``.

    One column-pruned ``map_columns`` pass: its projection normalizes
    the text and its kernel, ``functions.xxh64.fingerprints``, folds it
    (a NumPy port of Spark's xxhash64, vectorized across the documents
    of a batch).  Measured on a 4-core machine (``local[4]``, warm, noop
    sink): at sf0.1 (5000 docs, 1.47M grams) the query takes 0.55-0.62
    s, against 2.17-2.22 s for the ``transform(sequence(...))`` +
    ``aggregate`` fold that Spark evaluated as an interpreted HOF, about
    1.5 us per gram on these documents (at most 574 characters) and
    quadratic in a document's length (its ``substr`` walks to each gram's position): with one
    100k-character document added to the sf0.01 documents, 27-28 s
    against 0.46-0.53 s now (SCALE.md "Python boundary").  Still a
    shuffle-free map: it scales with scan bandwidth."""
    from heparchy_spark.functions import xxh64
    from heparchy_spark.operators.dedup import normalize_sql

    schema = T.StructType(
        [df.schema[id_col], T.StructField("fp64", T.LongType(), False)]
    )
    return map_columns(
        df,
        lambda texts: [xxh64.fingerprints(texts, ngram)],
        schema,
        [sql_ident(id_col)],
        [f"{normalize_sql(text_col)} AS __norm"],
    )


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-pass per-document profile: tokens, char stats, quality, language."""
    stats = char_stats(text_col)
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        stats["n_chars"].alias("n_chars"),
        stats["alpha_ratio"].alias("alpha_ratio"),
        stats["digit_ratio"].alias("digit_ratio"),
        stats["punct_ratio"].alias("punct_ratio"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_guess"),
    )


def token_stream(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(``__id``, ``__pos``, ``__tok``) exploded normalized token stream —
    the shared primitive under the repetition / stopword / vocabulary
    operators.

    Same exploded-stream shape as ``dedup.shingle_hash_stream`` (and for the
    same reason: scalar aggregates over a generator column stay in
    whole-stage codegen; per-row array HOFs do not).  Empty tokens are
    dropped, so empty/whitespace/null documents contribute no rows — one
    partial-aggregable scan, no driver involvement, linear at 100 TB.
    """
    from heparchy_spark.operators.dedup import normalize_text

    return df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias(
            "__pos", "__tok"
        ),
    ).where(F.length("__tok") > 0)


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals per document.

    Output: (id, n_tokens, distinct_ratio, top_token_fraction,
    top_bigram_fraction).  High top-fractions / low distinct-ratio flag
    boilerplate and degenerate repetition — standard pretraining quality
    gates.  Plan shape: one exploded stream, two (id, gram) partial
    aggregates, one id-level rollup each, one join on id — every
    aggregation is map-side combinable, and the id join is
    shuffle-partitioned on the same key both sides.
    """
    tok = token_stream(df, text_col, id_col)

    per_tok = tok.groupBy("__id", "__tok").agg(F.count(F.lit(1)).alias("__c"))
    token_sig = per_tok.groupBy("__id").agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("__n_distinct"),
        F.max("__c").alias("__top"),
    )

    w = Window.partitionBy("__id").orderBy("__pos")
    bigram = (
        tok.select(
            "__id",
            F.concat_ws(" ", "__tok", F.lead("__tok", 1).over(w)).alias("__bg"),
            F.lead("__tok", 1).over(w).alias("__nxt"),
        )
        .where(F.col("__nxt").isNotNull())
        .groupBy("__id", "__bg")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__id")
        .agg(F.sum("__c").alias("__nbg"), F.max("__c").alias("__topbg"))
    )

    joined = token_sig.join(bigram, "__id", "left")
    nt = F.col("n_tokens").cast("double")
    return joined.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens"),
        (F.col("__n_distinct").cast("double") / nt).alias("distinct_ratio"),
        (F.col("__top").cast("double") / nt).alias("top_token_fraction"),
        F.coalesce(
            F.col("__topbg").cast("double") / F.col("__nbg").cast("double"),
            F.lit(0.0),
        ).alias("top_bigram_fraction"),
    )


def stopword_ratio_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, n_tokens, stopword_ratio): fraction of tokens in the combined
    stopword vocabulary — the Gopher 'has enough function words' signal
    (too-low ratio flags non-prose).  Broadcast-free: the 40-word set is a
    literal IN predicate evaluated scan-side."""
    vocab = sorted({w for ws in _STOPWORDS.values() for w in ws})
    tok = token_stream(df, text_col, id_col)
    hit = F.col("__tok").isin(vocab).cast("long")
    return (
        tok.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(hit).alias("__nstop"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            (
                F.col("__nstop").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("stopword_ratio"),
        )
    )


def token_frequencies(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-wide vocabulary table: (token, n_occurrences, n_docs).

    The classic wordcount shape — explode, partial-aggregate per partition,
    one shuffle on token.  ``n_docs`` is an exact distinct count (the
    (token, id) pre-aggregate IS the distinct step, so no count-distinct
    expansion); at 100 TB swap in ``approx_count_distinct`` per the
    SCALE.md note.
    """
    tok = token_stream(df, text_col, id_col)
    per_doc = tok.groupBy("__tok", "__id").agg(F.count(F.lit(1)).alias("__c"))
    return per_doc.groupBy("__tok").agg(
        F.sum("__c").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    ).select(F.col("__tok").alias("token"), "n_occurrences", "n_docs")


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    exclude: DataFrame | None = None,
    exact_scores: bool = False,
) -> DataFrame:
    """BM25 top-k retrieval: score every document against each query in
    ``queries`` (columns ``query_id``, ``term``) and keep the ``k`` best
    per query, ties broken by ascending doc id.

    ``exclude`` (optional, columns ``query_id``/``doc_id``) drops pairs
    BEFORE ranking — the more-like-this self-match filter.
    ``exact_scores`` accumulates per-term score parts on a round-8 grid
    in exact decimal (the corpus determinism discipline,
    ``queries/numeric.py``): more-like-this queries sum ~20 float parts
    per doc, where plain double summation is aggregation-order-dependent
    and a cross-engine oracle could rank near-ties differently.  The
    default float path is the production shape.

    Lucene-flavoured BM25: ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``tf_part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``, document
    score = sum over matched query terms.  Terms and documents are
    tokenized with the corpus normalization (``dedup.normalize_text``),
    so ``dl`` is the normalized token count.

    Scale shape: the query-term table is tiny and broadcast, so the token
    stream is filtered to candidate postings BEFORE its only shuffle (the
    per-(doc, term) tf aggregate — map-side combinable).  Document length
    is a per-row scalar expression (no second pass over the stream), and
    the corpus-level constants (N, avgdl) ride a broadcast single-row
    join.  Per-query ranking is a bounded window over candidate docs
    only, never the full corpus.
    """
    from pyspark.sql import Window

    from heparchy_spark.operators.dedup import normalize_text
    from heparchy_spark.queries.numeric import davg

    terms = queries.select("term").distinct()
    norm = normalize_text(text_col)
    toks = F.split(norm, " ")
    dl_expr = (
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(toks))
        .cast("double")
    )
    # dl must NOT ride ABOVE the explode: CollapseProject inlines a
    # projection into the generator OUTPUT, re-running the two
    # normalization regexes once per TOKEN instead of once per document
    # (measured 20.6s vs 0.3s for the exploded stream at sf0.1).  It is
    # safe — and one corpus regex pass plus one doc-keyed exchange
    # cheaper than a separate (doc_id, dl) frame joined back on — to
    # compute dl BELOW the Generate, in the same projection as the
    # token split: whole-stage codegen's subexpression elimination
    # evaluates the shared normalize/split once per document, and
    # Generate copies the dl child column through per output row
    # without re-evaluating it (verified in the executed plan: one
    # document scan feeding the postings stream, regex stage count
    # 3 -> 2 per call).
    base = df.select(
        F.col(id_col).alias("doc_id"),
        dl_expr.alias("dl"),
        toks.alias("__toks"),
    )
    ts = base.select(
        "doc_id", "dl", F.explode("__toks").alias("term")
    ).where(F.length("term") > 0)
    tf = (
        ts.join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    )
    stats = df.select(dl_expr.alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        davg("dl").alias("avgdl"),
    )
    # document frequency as a window over the candidate postings — NOT a
    # groupBy on a second tf lineage, which would re-scan the corpus
    # (Spark only reuses identical exchanges at runtime, not in the plan).
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (1.0 + k1))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("__part"),
        )
    )
    from heparchy_spark.queries.numeric import dsum

    part_agg = (
        dsum(F.round(F.col("__part"), 8), 8) if exact_scores
        else F.sum("__part")
    )
    per_doc = (
        scored.join(F.broadcast(queries), "term")
        .groupBy("query_id", "doc_id")
        .agg(part_agg.alias("__score"))
    )
    if exclude is not None:
        per_doc = per_doc.join(
            F.broadcast(exclude.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
            "left_anti",
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__score"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round("__score", 6).alias("score"),
            "rk",
        )
    )


# Conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# no lookaround, no backreferences, ASCII classes only.  Dict order is
# the REDACTION order (see pii_redact).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}[- ]\d{2,4}[- ]\d{3,4}[- ]?\d{0,4}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (email / ipv4 / phone / ssn-shaped),
    JVM-side regex."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        for kind, pat in PII_PATTERNS.items()
    }


def pii_redact(col: Column | str) -> Column:
    """Replace every PII match with a typed placeholder like ``[EMAIL]``.

    Order matters: emails first (an address would otherwise partially match
    the phone pattern's digit runs), then ipv4, then phone before ssn
    (an international phone's digit runs never form the 3-2-4 ssn shape,
    but redacting the longer phone match first keeps it that way).
    """
    c = F.col(col) if isinstance(col, str) else col
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c


def filter_funnel(
    df: DataFrame, stages: list[tuple[str, Column]]
) -> DataFrame:
    """Cumulative filter-funnel survivor counts (pipeline observability).

    ``stages`` is an ordered list of (name, predicate).  A row survives
    stage k iff it passes predicates 1..k — the output reports, per stage,
    how many rows remain, plus a leading ``total`` row.  This is the
    standard yield report a filtering pipeline emits before committing a
    training-set build (where did the data go?).

    Output: ``(stage_idx, stage, n_pass)``, ``stage_idx`` 0 = total.

    Scale shape: ONE scan + one map-side partial aggregate — every stage
    is a conditional sum in the same ``agg``, so adding stages costs no
    extra passes; the final reduce moves |stages|+1 longs per task.  The
    unpivot (``stack``) runs on the single aggregated row.
    """
    conds: list[tuple[str, Column]] = []
    acc: Column | None = None
    for name, pred in stages:
        acc = pred if acc is None else (acc & pred)
        conds.append((name, acc))
    aggs = [F.count(F.lit(1)).alias("__c0")] + [
        F.coalesce(F.sum(c.cast("long")), F.lit(0)).alias(f"__c{i + 1}")
        for i, (_, c) in enumerate(conds)
    ]
    row = df.agg(*aggs)
    # stage names are caller input headed into SQL text — escape quotes
    # so a name like "doesn't-pass" can't break (or inject into) the
    # generated stack() expression
    esc = lambda t: t.replace("'", "''")  # noqa: E731
    parts = ["CAST(0 AS BIGINT)", "'total'", "__c0"]
    for i, (name, _) in enumerate(conds):
        parts += [f"CAST({i + 1} AS BIGINT)", f"'{esc(name)}'", f"__c{i + 1}"]
    n = len(conds) + 1
    return row.selectExpr(
        f"stack({n}, {', '.join(parts)}) AS (stage_idx, stage, n_pass)"
    )


def contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per-training-doc overlap with an eval set.

    For each training document, counts how many of its distinct word
    ``n``-gram shingles also occur anywhere in ``eval_df`` (the benchmark /
    held-out corpus).  Output: ``(id, n_shingles, n_overlap, contaminated)``
    with ``contaminated = n_overlap > 0`` — the standard n-gram-collision
    decontamination check used before training-set release.

    Scale shape: shingle identity is the 64-bit hash composition from
    ``shingle_hash_stream`` (codegen'd, no shingle strings).  The eval
    shingle set is tiny relative to the corpus (benchmarks are ~MBs vs TBs),
    so it is broadcast — the training stream is never shuffled for the join;
    the only shuffle is the stream's own per-doc window, whose partitioning
    the final per-doc aggregation reuses.
    """
    from heparchy_spark.operators.dedup import shingle_hash_stream

    tr = shingle_hash_stream(train_df, text_col, id_col, n)
    ev = (
        shingle_hash_stream(eval_df, text_col, id_col, n)
        .select("__shh")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # Dedup-first two-level aggregate instead of two count_distinct in
    # one aggregate: RewriteDistinctAggregates compiles the latter to an
    # Expand x2 of the whole training shingle stream (the same
    # (gid, value) map-side dedup, at twice the rows, at every scale).
    # Both levels key on __id so they reuse the stream's window
    # partitioning — no added exchange.  __shh is never null (hash of
    # non-null tokens), so count(1) over (id, shh) groups == the old
    # count_distinct(shh), and max(__hit) marks overlap groups exactly.
    # Measured r11 at sf0.1: per-doc core 1.10 -> 0.68 s, rows identical.
    per = (
        tr.join(F.broadcast(ev), "__shh", "left")
        .groupBy("__id", "__shh")
        .agg(F.max("__hit").alias("__hit"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("__hit") == 1, 1)).alias("n_overlap"),
        )
    )
    ids = train_df.select(F.col(id_col).alias("__id"))
    return (
        ids.join(per, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        )
        .withColumn("contaminated", F.col("n_overlap") > 0)
    )


def sentence_split_udtf():
    """Python UDTF splitting documents into sentences — the UDTF extension
    point of the surface (SURVEY.md §2.11): one input row fans out to N
    output rows with per-sentence stats.

    The split/token patterns use explicit ASCII whitespace classes so the
    semantics are portable to the DuckDB oracle (RE2 ``\\s`` is ASCII-only
    while Python's is Unicode — the one place the engines' regex dialects
    would silently diverge).
    """
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string, n_tokens int")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001
            if text is None:
                return
            for i, s in enumerate(re.split(r"\.[ \t\r\n]+", text)):
                yield doc_id, i, s, len(re.findall(r"[^ \t\r\n]+", s))

    return SentenceSplit


def split_sentences(spark, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Lateral-join the sentence UDTF against a document DataFrame.

    Scale: UDTFs run row-at-a-time in the Python worker — this is
    deliberately the slow-path demonstration of the extension point; the
    hot text operators in this module stay JVM-side.  The fan-out itself
    is partition-local (no shuffle).
    """
    SentenceSplit = sentence_split_udtf()
    spark.udtf.register("__sentence_split", SentenceSplit)
    df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))\
        .createOrReplaceTempView("__sent_in")
    return spark.sql(
        "SELECT s.* FROM __sent_in, LATERAL __sentence_split(doc_id, text) s"
    )


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus word-frequency table ``(w, freq)`` over normalized
    whitespace tokens — the one corpus-scale wordcount pass every
    tokenizer train/apply operator in this module starts from.

    Exposed so a train-then-apply query can compute it ONCE, persist
    it, and hand the same frame to both the trainer (``words=``) and
    the applier (``distinct_words=``): at 100 TB each avoided rebuild
    is a full corpus decompress + normalize-regex pass plus a
    corpus-scale distinct aggregate (guide §6 scan-once; the same
    measured win as the BM25 dl fusion).
    """
    from heparchy_spark.operators.dedup import normalize_text

    return (
        df.select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("w")
        )
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_merges: int = 8,
    words: DataFrame | None = None,
) -> DataFrame:
    """Byte-pair-encoding vocabulary induction (Sennrich et al. 2016)
    over the corpus: learn ``n_merges`` merge rules from word
    frequencies.  Returns the merge table (merge_idx, left, right,
    pair_count) — the artifact a tokenizer ships.

    Distributed shape: the ONLY corpus-scale pass is the word-frequency
    aggregate (exploded token stream -> one combinable groupBy; at
    100 TB this is the same wordcount shuffle as token_frequencies).
    Everything after runs on the VOCABULARY table — bounded by distinct
    words, not corpus size.  Each merge iteration is: adjacent-pair
    explode + weighted count (vocab-sized shuffle), a 1-row argmax
    collect (bounded by construction), and a vectorized merge of the
    winning pair applied per word.  The merge itself is an Arrow-batched
    pandas UDF: greedy left-to-right pair replacement is inherently
    sequential within a word, and the vocab table is off the corpus
    hot path where the no-Python-UDF rule applies.

    Tie-break: (pair_count DESC, left ASC, right ASC) — fully
    deterministic, mirrored by the plain-Python fixture oracle.

    ``words`` optionally supplies a precomputed (persisted)
    :func:`word_freqs` frame so a train-then-apply query scans the
    corpus once for both phases; content is identical either way.
    """
    spark = df.sparkSession
    if words is None:
        words = word_freqs(df, text_col)
    # initial symbol sequence: characters + end-of-word marker
    vocab = words.select(
        "freq",
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ),
            F.array(F.lit("</w>")),
        ).alias("syms"),
    ).persist()
    vocab.count()

    merges: list[tuple[int, str, str, int]] = []
    for idx in range(n_merges):
        # Adjacent-pair stream.  A word whose symbols have FULLY merged
        # into one token has no pairs — but ``sequence(1, size-1)``
        # with size == 1 yields the DESCENDING [1, 0] and the transform
        # then evaluates element_at(syms, 2) on a 1-element array
        # (runtime fault; first hit by the 10x rehearsal, where a hot
        # rotated word completed all 8 merges — any 100 TB corpus would
        # contain such a word).  try_element_at + a null filter gives
        # the fully-merged word an empty pair array instead, matching
        # the plain-Python fixture mirror's adjacent-pair semantics.
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms")),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("l"),
                                F.try_element_at(
                                    "syms", i + F.lit(1)
                                ).alias("r"),
                            ),
                        ),
                        lambda s: s["r"].isNotNull(),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
        )
        top = pairs.orderBy(
            F.desc("n"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not top:
            break
        left, right, n = top[0].l, top[0].r, int(top[0].n)
        merges.append((idx, left, right, n))

        def make_merge_udf(left: str, right: str):
            # factory freezes the pair by value: the UDF lives on in the
            # persisted frame's lineage, and a late recomputation must
            # not see a LATER iteration's loop variables
            @F.pandas_udf("array<string>")
            @worker_fn
            def merge_pair(s: pd.Series) -> pd.Series:
                def m(syms: list) -> list:
                    out, i = [], 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == left
                            and syms[i + 1] == right
                        ):
                            out.append(left + right)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    return out

                return s.map(m)

            return merge_pair

        merge_pair = make_merge_udf(left, right)
        new_vocab = vocab.select(
            "freq", merge_pair("syms").alias("syms")
        ).persist()
        new_vocab.count()
        vocab.unpersist()
        vocab = new_vocab
    vocab.unpersist()
    return spark.createDataFrame(
        merges, "merge_idx int, left string, right string, pair_count long"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the RAG/embedding
    pre-processing primitive.  Returns (id, chunk_idx, start_pos,
    n_tokens, chunk_text); chunk k covers token positions
    [k*step, k*step + chunk_tokens) with step = chunk_tokens - overlap.

    Scale shape: the naive form — ``slice(split(text), start, len)`` per
    chunk row — re-runs the tokenizer once per CHUNK after projection
    collapse, going O(n²/step) per document (ruinous on 100k-token
    docs).  Instead the token stream explodes ONCE with positions, each
    token fans out to the ≤ chunk/(chunk-overlap) chunks containing it
    (a constant ~1.33x row multiplier at the default sizes), and chunks
    reassemble in one combinable aggregate with order restored by
    position sort — linear in corpus size with one shuffle.

    Trailing chunks that are a strict SUBSET of their predecessor
    (documents whose length mod step lands inside the overlap) are
    dropped post-aggregate — such a chunk adds no tokens and would
    inflate a retrieval index with duplicate fragments.  Exactly those
    chunks (and only those) have ``chunk_idx > 0 and
    n_tokens <= overlap``.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.trim(text_col), r"\s+")).alias(
            "__pos", "__tok"
        ),
    ).where(F.length("__tok") > 0)
    p = F.col("__pos")
    k_lo = F.greatest(
        F.lit(0), F.floor((p - F.lit(chunk_tokens)) / F.lit(step)) + 1
    )
    k_hi = F.floor(p / F.lit(step))
    fan = toks.select(
        "__id",
        "__pos",
        "__tok",
        F.explode(F.sequence(k_lo.cast("int"), k_hi.cast("int"))).alias(
            "chunk_idx"
        ),
    )
    return (
        fan.groupBy(F.col("__id").alias(id_col), "chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("__pos", "__tok"))
                    ),
                    lambda s: s["__tok"],
                ),
                " ",
            ).alias("chunk_text"),
        )
        .where(
            (F.col("chunk_idx") == 0) | (F.col("n_tokens") > overlap)
        )
        .select(
            id_col,
            "chunk_idx",
            (F.col("chunk_idx") * step).cast("long").alias("start_pos"),
            "n_tokens",
            "chunk_text",
        )
    )


def bpe_encode_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
    distinct_words: DataFrame | None = None,
) -> DataFrame:
    """Apply learned BPE merge rules and report per-document token
    economics: (id, n_words, n_char_symbols, n_bpe_tokens, bpe_per_word)
    — whitespace words, pre-merge character symbols (len + the
    end-of-word marker, the BPE baseline), post-merge BPE tokens, and
    the tokens-per-word ratio.
    ``merges`` is the (left, right) rule list from ``bpe_train`` in
    merge order.

    Scale shape: encoding is computed once per DISTINCT word, not per
    occurrence — an Arrow-batched UDF applies the merge list to each
    word's symbol sequence, and the per-document totals come from
    joining the exploded token stream back to the encoded distinct-word
    table (sublinear but UNBOUNDED at web scale, so the join carries no
    broadcast hint — AQE picks broadcast vs shuffle-hash at runtime)
    followed by one combinable aggregate.

    ``distinct_words`` optionally supplies a precomputed one-row-per-
    distinct-word frame (column ``w`` — e.g. the trainer's persisted
    :func:`word_freqs` table, already unique by construction) so the
    encode pass does not re-scan and re-aggregate the corpus just to
    rebuild the DP table's key set; the encoded values are identical.
    """
    from heparchy_spark.operators.dedup import normalize_text

    rules = list(merges)

    @F.pandas_udf("int")
    @worker_fn
    def encode_len(s: pd.Series) -> pd.Series:
        def enc(w: str) -> int:
            syms = list(w) + ["</w>"]
            for left, right in rules:
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return len(syms)

        return s.map(enc).astype("int32")

    ts = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).where(F.length("w") > 0)
    dw = (
        distinct_words.select("w")
        if distinct_words is not None
        else ts.select("w").distinct()
    )
    vocab = dw.withColumn("n_bpe", encode_len("w"))
    # NOTE: no explicit broadcast hint here — ``vocab`` is the corpus
    # DISTINCT-WORD table, sublinear in corpus size but UNBOUNDED
    # (10^8-10^9 distinct tokens on web-scale text, multi-GB).  AQE
    # sizes the join at runtime: it still broadcasts at bench scale
    # and falls back to a shuffle hash join when the frame outgrows
    # the autoBroadcastJoinThreshold.
    return (
        ts.join(vocab, "w")
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w") + F.lit(1)).alias("n_char_symbols"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "n_char_symbols",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
            ).alias("bpe_per_word"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting algorithm) at word-k-gram
    granularity: select the MINIMUM gram hash of every sliding window of
    ``window`` consecutive k-gram hashes, deduplicated per document.
    Output: distinct (doc_id, fingerprint) rows.

    The winnowing guarantee: any shared run of at least
    ``k + window - 1`` tokens contributes at least one COMMON
    fingerprint to both documents (every full window over the shared
    region selects from the same hashes), while density is ~2/(window+1)
    of all grams — a tunable recall/size dial that a global MinHash
    signature cannot give for LOCAL matches.  Documents shorter than
    ``k + window - 1`` tokens produce no fingerprints (no full window).

    Scale shape: the token stream explodes once, gram hashes compose via
    window ``lead`` (the ``shingle_hash_stream`` construction, kept here
    with positions), the per-window minimum is one bounded
    ``rowsBetween`` frame over the same (id, pos) sort, and the distinct
    folds per doc — one shuffle on the id, everything else rides that
    partitioning.
    """
    from heparchy_spark.operators.dedup import normalize_text

    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias(
            "__pos", "__tok"
        ),
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    hashed = tok.select("__id", "__pos", F.xxhash64("__tok").alias("__h0"))
    lead_cols = [
        F.lead("__h0", j).over(w).alias(f"__h{j}") for j in range(1, k)
    ]
    sh = hashed.select("__id", "__pos", "__h0", *lead_cols)
    if k > 1:
        sh = sh.where(F.col(f"__h{k - 1}").isNotNull())
    grams = sh.select(
        "__id",
        "__pos",
        F.xxhash64(*[f"__h{j}" for j in range(k)]).alias("__g"),
    )
    wmin = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(0, window - 1)
    )
    sel = grams.select(
        "__id",
        F.min("__g").over(wmin).alias("__wmin"),
        F.lead("__g", window - 1).over(w).alias("__full"),
    )
    return (
        sel.where(F.col("__full").isNotNull())
        .select(
            F.col("__id").alias("doc_id"),
            F.col("__wmin").alias("fingerprint"),
        )
        .distinct()
    )


def compression_signals(
    df: DataFrame, text_col: str, id_col: str, level: int = 6
) -> DataFrame:
    """Compression-ratio quality signals (the Gopher/MassiveText
    repetitiveness filter): per-document UTF-8 byte length, zlib
    deflate length at ``level``, and their ratio — highly repetitive or
    templated documents compress far below prose (~0.4), randomness
    compresses near 1, and both tails are filter candidates.

    Runs one row per document through ``functions.worker.map_rows``
    (the multimodal byte-stats path): zlib is not expressible as Column
    algebra, so this is a deliberate, labeled Python boundary — one
    linear pass, no shuffle. zlib output is bit-stable for a fixed
    level across builds (same zlib stream format), so the signal is
    deterministic and fixture-mirrorable.
    """
    import zlib

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), False),
            T.StructField("n_compressed", T.LongType(), False),
            T.StructField("compression_ratio", T.DoubleType(), False),
        ]
    )

    def row(text):
        buf = (text or "").encode("utf-8")
        n_comp = len(zlib.compress(buf, level))
        yield len(buf), n_comp, round(n_comp / len(buf), 6) if buf else 1.0

    return map_rows(df, row, out_schema, [id_col], [text_col])


def _unigram_viterbi(
    word: str, table: dict, max_len: int
) -> list[str] | None:
    """Best-path segmentation of ``word`` under subword log-probs:
    split points scanned left to right, strictly-better updates only
    (equal-score ties resolve to the longest-first-token path), None
    when the word is not coverable by the table."""
    best: list = [0.0] + [None] * len(word)
    back: list = [0] * (len(word) + 1)
    for i in range(1, len(word) + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            if best[j] is None or piece not in table:
                continue
            sc = best[j] + table[piece]
            if best[i] is None or sc > best[i]:
                best[i] = sc
                back[i] = j
    if best[len(word)] is None:
        return None
    out, i = [], len(word)
    while i > 0:
        out.append(word[back[i] : i])
        i = back[i]
    return out[::-1]


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 48,
    iters: int = 3,
    seed_size: int = 192,
    max_sub_len: int = 4,
    words: DataFrame | None = None,
) -> DataFrame:
    """Unigram-LM tokenizer vocabulary induction (Kudo 2018, the
    SentencePiece unigram model) — the probabilistic counterpart to
    :func:`bpe_train`, here in its deterministic hard-EM (Viterbi)
    form: start from a frequency-seeded candidate vocabulary, and each
    iteration (E) segments every distinct word by best-path Viterbi
    under the current subword log-probabilities, then (M) re-estimates
    probabilities from the exact integer usage counts, +1-smoothed over
    the whole candidate set so every entry keeps a finite log-prob.
    Returns the shipped artifact: (rank, subword, n_uses, logprob),
    the ``vocab_size`` most-used subwords under (count desc, subword
    asc).  The truncation is purely usage-ranked — a zero-use character
    can drop out of the artifact; full coverability is restored at
    encode time by :func:`unigram_encode_counts`'s deterministic
    one-token-per-character fallback.

    Distributed shape: the ONLY corpus-scale pass is the word-frequency
    aggregate (the wordcount shuffle).  Seeding explodes substrings of
    the DISTINCT-WORD table (bounded by vocabulary, not corpus); each
    EM iteration is one Arrow-batched ``mapInPandas`` Viterbi pass over
    that same word table — the per-word DP is inherently sequential,
    and the word table is off the corpus hot path where the
    no-Python-UDF rule applies — plus one exact integer count
    aggregate; the candidate vocabulary (<= ``seed_size`` + alphabet)
    is the only driver state.

    Determinism: seed selection and usage counts are exact integers
    with (weight desc, subword asc) ties; probabilities are single
    divisions of exact ints; the DP scans split points left to right
    and updates only on strictly-better scores, so equal-probability
    ties resolve to the longest-first-token path — the plain-Python
    fixture mirror replicates each rule bit-for-bit.

    ``words`` optionally supplies a precomputed, already-persisted
    :func:`word_freqs` frame (the caller owns its lifecycle) so a
    train-then-apply query scans the corpus once for both phases;
    content — and therefore the trained artifact — is identical.
    """
    owns_words = words is None
    if owns_words:
        words = word_freqs(df, text_col).persist()
        words.count()

    # seed candidates: every substring of length 1..max_sub_len, with
    # multiplicity, weighted by word frequency
    subs = (
        words.select(
            "freq",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(max_sub_len)),
                        lambda ln: F.filter(
                            F.transform(
                                F.sequence(F.lit(1), F.length("w")),
                                lambda i: F.col("w").substr(i, ln),
                            ),
                            lambda s: F.length(s) == ln,
                        ),
                    )
                )
            ).alias("s"),
        )
        .groupBy("s")
        .agg(F.sum("freq").alias("wt"))
    )
    multi = (
        subs.where(F.length("s") > 1)
        .orderBy(F.desc("wt"), F.asc("s"))
        .limit(seed_size)
        .collect()
    )
    weights = {r["s"]: int(r["wt"]) for r in multi}
    for r in subs.where(F.length("s") == 1).collect():
        weights[r["s"]] = int(r["wt"])

    import math

    def logprobs(counts: dict) -> dict:
        v = len(counts)
        total = sum(counts.values())
        return {
            s: math.log((c + 1) / (total + v)) for s, c in counts.items()
        }

    lp = logprobs(weights)
    max_len = max(len(s) for s in lp)

    count_schema = T.StructType(
        [
            T.StructField("s", T.StringType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    for _ in range(iters):
        table = dict(lp)
        _ml = max_len

        def estep(batches):
            for pdf in batches:
                agg: dict = {}
                for w, freq in zip(pdf["w"], pdf["freq"]):
                    seg = _unigram_viterbi(str(w), table, _ml)
                    if seg is None:
                        continue
                    for piece in seg:
                        agg[piece] = agg.get(piece, 0) + int(freq)
                yield pd.DataFrame(
                    {"s": list(agg), "n": list(agg.values())}
                )

        used = (
            words.mapInPandas(worker_fn(estep), schema=count_schema)
            .groupBy("s")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        counts = {s: 0 for s in lp}
        for r in used:
            counts[r["s"]] = int(r["n"])
        lp = logprobs(counts)

    ranked = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:vocab_size]
    out = [
        (i + 1, s, int(n), round(lp[s], 6))
        for i, (s, n) in enumerate(ranked)
    ]
    if owns_words:
        words.unpersist()
    return df.sparkSession.createDataFrame(
        out, "rank long, subword string, n_uses long, logprob double"
    )


def unigram_encode_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: list[tuple[str, float]],
    distinct_words: DataFrame | None = None,
) -> DataFrame:
    """Encode documents under a trained unigram-LM vocabulary
    (:func:`unigram_lm_train`'s (subword, logprob) artifact) and report
    per-document token economics: (id, n_words, n_unigram_tokens,
    unigram_per_word) — whitespace words, Viterbi-best token counts,
    and the tokens-per-word ratio.  A word not coverable by the pruned
    vocabulary falls back to one token per character (the SentencePiece
    byte-fallback convention), deterministically.

    Scale shape mirrors :func:`bpe_encode_counts`: the Viterbi DP runs
    once per DISTINCT word (Arrow-batched pandas over the distinct-word
    table); per-document totals come from joining the exploded token
    stream back to the encoded distinct-word table — AQE-sized, no
    broadcast hint, since the frame is unbounded at web scale — plus
    one combinable aggregate.

    ``distinct_words`` optionally supplies a precomputed one-row-per-
    distinct-word frame (column ``w``, e.g. the trainer's persisted
    :func:`word_freqs` table) so the encode pass does not re-scan and
    re-aggregate the corpus to rebuild the DP key set; values are
    identical.
    """
    from heparchy_spark.operators.dedup import normalize_text

    table = dict(vocab)
    max_len = max((len(s) for s in table), default=1)

    @F.pandas_udf("int")
    @worker_fn
    def encode_len(s: pd.Series) -> pd.Series:
        def enc(w: str) -> int:
            seg = _unigram_viterbi(w, table, max_len)
            return len(seg) if seg is not None else len(w)

        return s.map(enc).astype("int32")

    ts = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).where(F.length("w") > 0)
    dw = (
        distinct_words.select("w")
        if distinct_words is not None
        else ts.select("w").distinct()
    )
    vocab_df = dw.withColumn("n_uni", encode_len("w"))
    # Distinct-word table: AQE-sized join (no explicit broadcast hint —
    # the frame is unbounded at web scale; see bpe_encode_counts).
    return (
        ts.join(vocab_df, "w")
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_uni").cast("long").alias("n_unigram_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "n_unigram_tokens",
            F.round(
                F.col("n_unigram_tokens")
                / F.col("n_words").cast("double"),
                6,
            ).alias("unigram_per_word"),
        )
    )


def rouge_l_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """ROUGE-L overlap scores for candidate document pairs: per (id_a,
    id_b), the token-level longest-common-subsequence length and the
    derived precision/recall/F1 (reference = id_a, candidate = id_b;
    Lin 2004) — the dedup-QA metric that tells near-duplicate
    REWRITES (high ROUGE-L, reordering-sensitive) apart from bag-of-
    shingle coincidences the Jaccard verifier cannot distinguish.

    Scale shape: ``pairs`` is the BOUNDED output of a banded candidate
    generator (MinHash LSH, simhash, dHash...), so the two text joins
    ship only candidate documents and the O(n*m) LCS dynamic program
    runs in Arrow-batched ``mapInPandas`` over pair count, never corpus
    size.  ``normalize_text`` is evaluated ABOVE the candidate joins —
    per surviving pair row, not per corpus row — so the corpus pays
    zero extra regex passes beyond the generator's own (the BM25
    scan-once rule; the Project sits above the join and Catalyst never
    pushes expressions back down through one).  Integer LCS (row-
    vectorized: cur = running-max of max(prev[j], prev[j-1]+eq), exact
    by the DP table's unit-step monotonicity) + int/int divisions keep
    scores engine-exact; the plain-Python mirror shares the arithmetic
    by construction.
    """
    from heparchy_spark.operators.dedup import normalize_text

    ta = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ra")
    )
    tb = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__rb")
    )
    joined = (
        pairs.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            normalize_text("__ra").alias("__ta"),
            normalize_text("__rb").alias("__tb"),
        )
    )
    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("lcs_len", T.IntegerType(), False),
            T.StructField("rouge_p", T.DoubleType(), False),
            T.StructField("rouge_r", T.DoubleType(), False),
            T.StructField("rouge_f", T.DoubleType(), False),
        ]
    )

    def score(batches: ty.Iterator[pd.DataFrame]) -> ty.Iterator[pd.DataFrame]:
        import numpy as np

        def lcs(a: list, b: list) -> int:
            # Row-vectorized LCS: dp[i][j] = max(prev[j-1] + eq,
            # prev[j], cur[j-1]).  The extra cur[j-1]/prev[j] terms in
            # the eq case are subsumed by dp's unit-step monotonicity
            # (dp[i][j-1] <= dp[i-1][j-1]+1 and dp[i-1][j] <=
            # dp[i-1][j-1]+1), so the value equals the textbook
            # recurrence cell for cell; the cur[j-1] running max is
            # np.maximum.accumulate.  Same integer table, NumPy row
            # ops instead of a Python cell loop.
            if not a or not b:
                return 0
            if len(a) > len(b):
                a, b = b, a  # loop over the shorter side (LCS symmetric)
            codes: dict = {}
            bc = np.fromiter(
                (codes.setdefault(w, len(codes)) for w in b),
                dtype=np.int64,
                count=len(b),
            )
            prev = np.zeros(len(b) + 1, dtype=np.int32)
            cur = np.empty(len(b) + 1, dtype=np.int32)
            for x in a:
                xc = codes.get(x, -1)
                np.maximum(prev[1:], prev[:-1] + (bc == xc), out=cur[1:])
                cur[0] = 0
                np.maximum.accumulate(cur, out=cur)
                prev, cur = cur, prev
            return int(prev[-1])

        for pdf in batches:
            rows = []
            for ia, ib, sa, sb in zip(
                pdf["id_a"], pdf["id_b"], pdf["__ta"], pdf["__tb"]
            ):
                ref = [w for w in str(sa or "").split(" ") if w]
                cand = [w for w in str(sb or "").split(" ") if w]
                ln = lcs(ref, cand)
                p = ln / len(cand) if cand else 0.0
                r = ln / len(ref) if ref else 0.0
                f = 2 * p * r / (p + r) if (p + r) > 0 else 0.0
                rows.append(
                    {
                        "id_a": ia,
                        "id_b": ib,
                        "lcs_len": ln,
                        "rouge_p": round(p, 6),
                        "rouge_r": round(r, 6),
                        "rouge_f": round(f, 6),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id_a", "id_b", "lcs_len",
                    "rouge_p", "rouge_r", "rouge_f",
                ],
            )

    return joined.mapInPandas(worker_fn(score), schema=schema)


def lm_perplexity(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: list[tuple[str, float]],
    distinct_words: DataFrame | None = None,
) -> DataFrame:
    """Per-document negative log-likelihood under a trained unigram-LM
    vocabulary (:func:`unigram_lm_train`'s (subword, logprob) artifact)
    — the CCNet/Wenzek-style LM quality signal: well-modeled text
    scores low nats/token, boilerplate and noise score high, and the
    corpus is bucketed on that number for curation.  Output one row per
    non-empty document: (id, n_words, n_tokens, nll_nats,
    nats_per_token), round-6 doubles.

    Scoring: each whitespace word contributes its Viterbi-best
    segmentation's summed subword log-probs (left-to-right addition —
    fixed order, so the double is deterministic); a word the pruned
    vocabulary cannot cover falls back to one token per character at a
    floor log-prob of ``min(vocab logprob) - 1.0`` (an OOV penalty
    strictly below every learned piece).  Per-word scores are rounded
    to 8 dp and accumulated in DECIMAL(38,10), so the document total is
    independent of partial-aggregation order (the corpus float
    contract; see ``heparchy_spark.queries.numeric``).

    Scale shape mirrors :func:`unigram_encode_counts`: the Viterbi DP
    runs once per DISTINCT word (Arrow-batched pandas over the
    distinct-word table), totals come from the AQE-sized token-stream
    join plus one combinable aggregate.  Zero driver collects.

    ``distinct_words`` optionally supplies a precomputed one-row-per-
    distinct-word frame (column ``w``, e.g. the trainer's persisted
    :func:`word_freqs` table) so the scoring pass does not re-scan and
    re-aggregate the corpus to rebuild the DP key set; values are
    identical.
    """
    from heparchy_spark.operators.dedup import normalize_text

    table = dict(vocab)
    max_len = max((len(s) for s in table), default=1)
    unk_lp = min(table.values(), default=0.0) - 1.0

    @F.pandas_udf("n_tok int, lp double")
    @worker_fn
    def enc(s: pd.Series) -> pd.DataFrame:
        def one(w: str) -> tuple[int, float]:
            seg = _unigram_viterbi(w, table, max_len)
            if seg is None:
                return len(w), len(w) * unk_lp
            lp = 0.0
            for piece in seg:
                lp += table[piece]
            return len(seg), lp

        pairs = [one(w) for w in s]
        return pd.DataFrame(
            {
                "n_tok": pd.array([p[0] for p in pairs], dtype="int32"),
                "lp": [p[1] for p in pairs],
            }
        )

    ts = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).where(F.length("w") > 0)
    dw = (
        distinct_words.select("w")
        if distinct_words is not None
        else ts.select("w").distinct()
    )
    wtab = (
        dw.withColumn("__e", enc("w"))
        .select(
            "w",
            F.col("__e.n_tok").alias("__n_tok"),
            F.round(F.col("__e.lp"), 8)
            .cast("decimal(38,10)")
            .alias("__lp_dec"),
        )
    )
    # Distinct-word table: AQE-sized join (no explicit broadcast hint —
    # the frame is unbounded at web scale; see bpe_encode_counts).
    return (
        ts.join(wtab, "w")
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_tok").cast("long").alias("n_tokens"),
            F.sum("__lp_dec").alias("__total_lp"),
        )
        .select(
            id_col,
            "n_words",
            "n_tokens",
            F.round(-F.col("__total_lp").cast("double"), 6).alias(
                "nll_nats"
            ),
            F.round(
                -F.col("__total_lp").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("nats_per_token"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Cross-document n-gram novelty — the inverse curation signal of
    the duplicated-span detector: per document, the fraction of its
    DISTINCT token ``n``-grams that occur in no other document.  Low
    novelty flags boilerplate/template mass the corpus already carries
    many times (navigation chrome, license blocks, mirrored articles);
    high novelty marks content that actually adds information.  Output
    (id, n_grams, n_novel, novelty) for documents with at least ``n``
    normalized tokens; ``novelty`` is one exact int/int division
    (IEEE-identical across engines, no rounding grid needed).

    Scale shape: ONE exploded gram stream (the text is read and
    exploded once — a groupBy-df + join-back form would recompute the
    explode on both join sides) to a (doc, gram) DISTINCT (shuffle 1),
    the gram document-frequency as a whole-partition window count over
    the gram key (shuffle 2 — no ordering, no join), and the final
    per-doc rollup (shuffle 3).  Gram strings never leave the exchange
    pipeline — no driver collects, no bounded-table assumption.
    """
    from heparchy_spark.operators.dedup import normalize_text

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.split(normalize_text(text_col), " ").alias("__a"),
    ).where(F.size("__a") >= n)
    grams = toks.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__a") - (n - 1)),
                lambda i: F.array_join(F.slice("__a", i, n), " "),
            )
        ).alias("g"),
    ).distinct()
    with_df = grams.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    return (
        with_df.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """MOSS-style local-overlap pairs from winnowing fingerprints
    (Schleimer et al. 2003, §5 "ranking matches"): document pairs
    sharing at least ``min_shared`` fingerprints, with the shared count
    and the containment-style ratio shared / min(|fp_a|, |fp_b|).
    Winnowing's guarantee makes this a LOCAL-match detector — two docs
    sharing any k+window-1-token run pair up here even when their
    global MinHash similarity is negligible (the quote/excerpt case).

    Fingerprints with document frequency above ``max_df`` are dropped
    before pairing — MOSS's "noise" rule, and the skew guard: a
    boilerplate fingerprint shared by f documents would otherwise emit
    O(f^2) candidate rows in its hash bucket.  The drop is BEFORE the
    per-pair count, so ``shared_fps`` counts discriminative
    fingerprints only (sizes count them consistently).

    Scale shape: fingerprints (one id-shuffle), document frequency +
    per-doc sizes (map-combinable aggregates), the fingerprint-keyed
    self-join (bucket fan-out bounded by max_df), one (a, b) rollup,
    two bounded size joins.  Ratio = int/int + least() — exact.
    """
    fps = winnowing_fingerprints(df, text_col, id_col, k=k, window=window)
    keep = fps.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
    ).where(F.col("__df") <= max_df)
    sizes = keep.groupBy(F.col("doc_id").alias("__d")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    a, b = keep.alias("a"), keep.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(F.col("__d").alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("__d").alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            (
                F.col("shared_fps").cast("double")
                / F.least("__na", "__nb").cast("double")
            ).alias("overlap"),
        )
    )

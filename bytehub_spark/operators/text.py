"""Text-analysis operators for training-data pipelines (documents table).

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen) — no Python UDFs. Arithmetic is written as single
IEEE expressions (identical operand order in the DuckDB oracle) so results
hash-match exactly without rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS_EN = ("the", "a", "and", "of", "to")
STOPWORD_RE = r"(^| )(the|a|and|of|to)( |$)"

# language-marker regexes: deterministic first-match-wins chain
LANG_MARKERS = (
    ("de", r"(^| )(der|die|das|und|nicht)( |$)"),
    ("es", r"(^| )(el|los|las|una|por)( |$)"),
    ("fr", r"(^| )(le|les|des|une|est)( |$)"),
    ("zh", r"[一-鿿]"),
    ("en", r"(^| )(the|a|and|of|to)( |$)"),
)

# BPE-ish token regex: letter runs | digit runs | single non-space symbol
TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def quality_score_col(text_col: str = "text") -> F.Column:
    """The linear quality score as a standalone column expression, so
    consumers (quality_rebalance_plan, streaming filters) can compute it
    inline in one projection instead of joining against text_stats."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    stop_ratio = n_stop.cast("double") / n_words
    return (
        F.lit(0.5) * F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.5) * (F.lit(1.0) - stop_ratio)
    )


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document quality stats: char/word counts, avg word length,
    stopword ratio, and a linear quality score."""
    n_chars = F.length("text")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    # stopword hits: count words in the stopword set via array filter
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    avg_word_len = (n_chars - (n_words - F.lit(1))).cast("double") / n_words
    stop_ratio = n_stop.cast("double") / n_words
    quality = quality_score_col()
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    ).orderBy("doc_id")


def token_counts(documents: DataFrame) -> DataFrame:
    """Token counting per source: whitespace tokens + BPE-ish regex tokens.

    Integer sums — exact under any aggregation order.
    """
    ws_tokens = F.size(F.split(F.col("text"), " "))
    re_tokens = F.regexp_count(F.col("text"), F.lit(TOKEN_RE))
    return (
        documents.select("source", ws_tokens.alias("ws"), re_tokens.alias("re"))
        .groupBy("source")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("re").alias("regex_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID: first-match marker chain (deterministic).

    Returns the guess plus agreement with the dataset's lang label.
    """
    guess = F.lit("unknown")
    # build CASE from last to first so earlier markers take precedence
    for lang, pattern in reversed(LANG_MARKERS):
        guess = F.when(F.col("text").rlike(pattern), F.lit(lang)).otherwise(guess)
    return documents.select(
        "doc_id",
        "lang",
        guess.alias("lang_guess"),
        (F.col("lang") == guess).cast("int").alias("is_match"),
    ).orderBy("doc_id")


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.

    The normalization (lower, collapse whitespace, trim) makes the
    fingerprint robust to formatting-only edits — the standard first pass
    of a dedup pipeline.
    """
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return documents.select(
        "doc_id", F.md5(normalized).alias("fingerprint")
    ).orderBy("doc_id")


URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def clean_text(documents: DataFrame) -> DataFrame:
    """Training-corpus cleaning pass: strip URLs and e-mail addresses,
    lowercase, collapse whitespace. Pure JVM regexp_replace chain —
    whole-stage codegen, no Python in the loop. Patterns are kept in the
    common RE2/Java subset so the DuckDB oracle uses the same strings.
    """
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), URL_RE, " "),
                EMAIL_RE,
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return documents.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.regexp_count(F.col("text"), F.lit(URL_RE)).alias("n_urls"),
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("n_emails"),
    ).orderBy("doc_id")


def repetition_ratio(documents: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): fraction
    of word n-grams that are duplicates of an earlier n-gram. High values
    flag boilerplate/spam. Integer-derived ratio — exact cross-engine."""
    # materialize the words array ONCE per row: referencing split(text)
    # inside the transform lambda re-splits the text per n-gram (O(words²)
    # per doc — measured 7s vs 0.3s on 5k docs). Also guard short docs:
    # sequence(0, -1) is DESCENDING in Spark, not empty.
    # Per-gram elements are direct __w[i+j] refs, NOT slice(__w, i+1, n):
    # slice allocates a fresh n-element array per gram before concat_ws
    # reads it — pure per-row allocation the element refs skip (guide
    # §1.2 per-task work; identical strings: split() never yields NULL
    # elements, so concat_ws sees the same n tokens either way).
    elems = ", ".join(f"__w[i + {j}]" for j in range(n))
    grams = F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(0, size(__w) - {n}), "
        f"i -> concat_ws(' ', {elems})) "
        f"ELSE array() END"
    )
    return (
        documents.withColumn("__w", F.split(F.col("text"), " "))
        .withColumn("__g", grams)
        .select(
            "doc_id",
            F.size("__g").alias("n_ngrams"),
            F.size(F.array_distinct("__g")).alias("n_distinct"),
            F.when(
                F.size("__g") > 0,
                (F.size("__g") - F.size(F.array_distinct("__g"))).cast("double")
                / F.size("__g"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ngram_ratio"),
        )
        .orderBy("doc_id")
    )


def vocab_topk(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total occurrences with document
    frequency — the tokenizer-training / idf-weighting primitive.

    The explode multiplies rows ~n_words-fold, but the count aggregation
    is map-side-combined before the single shuffle on the token, so
    shuffle volume is |vocab|, not |corpus|. Top-k is a per-partition
    TakeOrdered then a driver merge of k rows — no global sort at scale.
    Ties break lexicographically for cross-engine determinism.
    """
    words = F.explode(F.split(F.col("text"), " ")).alias("token")
    return (
        documents.select("doc_id", words)
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
    )


def tfidf_top_terms(documents: DataFrame, top_per_doc: int = 3) -> DataFrame:
    """Characteristic terms per document: tf × (N/df) rarity weighting.

    The idf factor is the raw ratio N/df, not log(N/df): log is evaluated
    by libm and is NOT guaranteed correctly-rounded, so cross-engine
    hash-equality would break; the ranking is identical either way since
    log is monotone. All arithmetic is integer products with one double
    division — bit-exact. Ties break lexicographically.

    Plan shape: one explode + two aggregations sharing the token shuffle
    key, a broadcast of the (token, df) table, per-doc ranking window —
    no corpus-sized sort.
    """
    toks = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_tbl = toks.groupBy(F.col("token").alias("d_token")).agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = documents.agg(F.countDistinct("doc_id").alias("n_docs"))
    weight = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("token").asc()
    )
    return (
        tf.join(F.broadcast(df_tbl), F.col("token") == F.col("d_token"))
        .join(F.broadcast(n_docs))
        .select("doc_id", "token", "tf", "df", weight.alias("weight"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_per_doc)
        .select("doc_id", "token", "tf", "df", "weight", "rn")
        .orderBy("doc_id", "rn")
    )


# PII patterns kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB/Go scanners) so the same redaction is reproducible everywhere.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def redact_pii(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing: count + redact email addresses and phone numbers.

    Pure JVM regexp_count/regexp_replace — no Python in the hot path; at
    corpus scale this is a narrow map stage with zero shuffles. Spans are
    replaced with stable tags so token offsets stay meaningful downstream.
    """
    txt = F.col(text_col)
    return documents.select(
        F.col(id_col),
        F.regexp_count(txt, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(txt, F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(txt, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    ).orderBy(id_col)


def quality_rules(
    documents: DataFrame,
    min_words: int = 30,
    max_words: int = 90,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
    max_dup_word_ratio: float = 0.75,
    max_top_word_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1 and the
    C4 heuristics, adapted to rules that are pure JVM expressions): each
    rule is a named boolean column plus the measured value it gates on, and
    ``passes_all`` is their conjunction. Keeping per-rule flags (rather
    than just the verdict) is what makes the gate auditable — corpus
    dashboards report per-rule rejection rates.

    Rules:
      - ``r_word_count``: min_words <= n_words <= max_words
      - ``r_avg_word_len``: mean word length within [min, max]
      - ``r_dup_words``: 1 - distinct/total words <= max_dup_word_ratio
        (repetition / boilerplate signal)
      - ``r_top_word``: most frequent word <= max_top_word_ratio of all
        words (single-token spam signal)

    Scale shape: one narrow map stage, zero shuffles — every rule is
    computed from the row's own words array (bound once; Spark projections
    have no CSE). All ratios are integer-derived with one double division
    each — exact cross-engine.
    """
    # words array computed once; top-word count via sort + fold in SQL
    # (aggregate over the sorted array counts the longest run of equal
    # neighbours — O(n log n) per row, no per-row hashmap)
    top_cnt = F.expr(
        "aggregate(array_sort(__w), struct(0 AS best, 0 AS run, '' AS prev), "
        "(acc, x) -> struct("
        "greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1)), "
        "IF(x = acc.prev, acc.run + 1, 1), x), "
        "acc -> acc.best)"
    )
    d = (
        documents.withColumn("__w", F.split(F.col("text"), " "))
        .withColumn("__nw", F.size("__w"))
        .withColumn("__nd", F.size(F.array_distinct("__w")))
        .withColumn("__top", top_cnt)
    )
    nw = F.col("__nw")
    avg_len = (F.length("text") - (nw - F.lit(1))).cast("double") / nw
    dup_ratio = (nw - F.col("__nd")).cast("double") / nw
    top_ratio = F.col("__top").cast("double") / nw
    r_wc = (nw >= min_words) & (nw <= max_words)
    r_awl = (avg_len >= min_avg_word_len) & (avg_len <= max_avg_word_len)
    r_dup = dup_ratio <= max_dup_word_ratio
    r_top = top_ratio <= max_top_word_ratio
    return d.select(
        "doc_id",
        nw.alias("n_words"),
        avg_len.alias("avg_word_len"),
        dup_ratio.alias("dup_word_ratio"),
        top_ratio.alias("top_word_ratio"),
        r_wc.cast("int").alias("r_word_count"),
        r_awl.cast("int").alias("r_avg_word_len"),
        r_dup.cast("int").alias("r_dup_words"),
        r_top.cast("int").alias("r_top_word"),
        (r_wc & r_awl & r_dup & r_top).cast("int").alias("passes_all"),
    ).orderBy("doc_id")


def bm25_topk(
    documents: DataFrame,
    query_terms: tuple[str, ...] = ("join", "hash", "scan"),
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents for a bag of query terms —
    the classic sparse-retrieval scorer (Robertson & Zaragoza 2009), the
    counterpart to the embedding ANN operators in similarity.py.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    idf is the raw ratio N/df rather than its log: libm log is not
    correctly rounded so cross-engine hash-equality would break, and at
    one term per summand the ranking is preserved (monotone transform
    per-term; multi-term totals differ from log-BM25 but deterministically
    so — documented contract). Remaining arithmetic is int-derived
    multiplies and divides on doubles (correctly rounded, identical
    expression shape in the oracle) — bit-exact.

    Scale shape: one explode of only the matching terms (the rlike
    pre-filter keeps non-matching docs out of the explode), tf aggregation
    map-side-combines on (doc, term), df and avgdl are two scalar-ish
    broadcasts, final top-k is TakeOrdered (per-partition heap + driver
    merge of k rows) — no global sort, no corpus-sized shuffle.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = (
        documents.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("dl"),
            F.explode(
                F.filter(
                    F.split(F.col("text"), " "),
                    lambda w: F.array_contains(terms, w),
                )
            ).alias("term"),
        )
    )
    tf = toks.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    return _bm25_rank(tf, bm25_corpus_stats(documents), query_terms, k, k1, b)


def bm25_corpus_stats(documents: DataFrame) -> DataFrame:
    """One-row (n_docs, avgdl) corpus statistics frame — the second half
    of the BM25 index state (build_bm25_index holds the postings)."""
    return documents.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size(F.split(F.col("text"), " "))).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )


def build_bm25_index(
    documents: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Materialize the BM25 inverted index: one posting row
    (term, doc_id, tf, dl, tb) per distinct term per document, where
    ``tb = pmod(xxhash64(term), n_buckets)`` is the partition key to
    write the postings table under (``partitionBy("tb")``).

    This is the sparse-retrieval scale path mirroring the persisted LSH
    bucket index (dedup.build_lsh_index): build once with ONE map-side-
    combined shuffle on (doc, term); at query time only the buckets of
    the query terms are read (partition pruning, see bm25_query_index),
    so per-query cost scales with posting-list length, not corpus size.
    Postings are ~4 ints/term-occurrence-class — far below corpus bytes.
    """
    toks = documents.select(
        id_col,
        F.size(F.split(F.col("text"), " ")).alias("dl"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    )
    return toks.groupBy(id_col, "dl", "term").agg(
        F.count("*").alias("tf")
    ).withColumn("tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))


def bm25_query_index(
    postings: DataFrame,
    stats: DataFrame,
    query_terms: tuple[str, ...] = ("join", "hash", "scan"),
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k against a PRE-BUILT postings table (build_bm25_index)
    plus its stats frame — bit-identical to running bm25_topk over the
    raw corpus, but reading only the query terms' postings.

    When the postings table is stored partitioned by ``tb``, prefix the
    term filter with ``F.col("tb").isin(<buckets of the query terms>)``
    so the scan prunes to |terms| partitions (the buckets are xxhash64
    values, so compute them with one scalar prepass — the seed_lookup
    pattern). df(t) is re-derived from the filtered postings, which is
    exact: every posting of a matching term survives the filter.
    """
    tf = postings.where(F.col("term").isin(*query_terms)).select(
        "doc_id", "dl", "term", "tf"
    )
    return _bm25_rank(tf, stats, query_terms, k, k1, b)


def _bm25_rank(
    tf: DataFrame,
    stats: DataFrame,
    query_terms: tuple[str, ...],
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared BM25 scorer over a (doc_id, dl, term, tf) frame: broadcast
    df + corpus stats, fixed-order per-term fold, TakeOrdered top-k."""
    df_tbl = tf.groupBy(F.col("term").alias("d_term")).agg(
        F.countDistinct("doc_id").alias("df")
    )
    idf = F.col("n_docs").cast("double") / F.col("df")
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)).cast("double") / denom
    # fold per-term contributions in the FIXED query-term order, not with
    # a float sum over shuffle-ordered rows: float addition is not
    # associative, so an order-free SUM(double) would be 1-ulp
    # nondeterministic both across runs and across engines. One row per
    # (doc, term) exists post-groupBy, so max() is exact selection.
    scored = (
        tf.join(F.broadcast(df_tbl), F.col("term") == F.col("d_term"))
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            *[
                F.max(F.when(F.col("term") == t, contrib)).alias(f"__c_{i}")
                for i, t in enumerate(query_terms)
            ],
            F.count("*").alias("n_terms_hit"),
        )
    )
    total = F.lit(0.0)
    for i in range(len(query_terms)):
        total = total + F.coalesce(F.col(f"__c_{i}"), F.lit(0.0))
    return (
        scored.select(
            "doc_id", total.alias("bm25_score"), "n_terms_hit"
        )
        .orderBy(F.col("bm25_score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def span_dedup_stats(
    documents: DataFrame,
    span_words: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style duplicate-span accounting: cut each document into
    consecutive NON-overlapping ``span_words``-word spans, count how often
    each span text occurs corpus-wide, and report per-document how much of
    the document is made of corpus-duplicated spans. (C4 drops any
    three-sentence span that occurs more than once in the corpus — the
    testdata has no sentence boundaries, so fixed word windows stand in
    for sentences; the pipeline shape is identical.)

    Output per doc: n_spans, n_dup_spans (spans whose text occurs in >= 2
    documents), dup_span_ratio.

    Scale shape: the explode emits only n_words/span_words rows per doc
    (~1/8 of the corpus word count, far below the shingle explodes used in
    near-dup ops). Span texts are md5-compressed before the corpus-wide
    count so the shuffle carries 16-byte keys, not raw text. Two shuffles:
    (1) groupBy span hash with map-side partial counts, (2) the
    hash-keyed join back + per-doc groupBy. The count table is
    corpus-sized so the join is a shuffle join on the hash — co-partitioned
    with the agg that produced it, so AQE reuses the exchange.
    """
    w = span_words
    spans = (
        documents.select(
            id_col, F.split(F.col("text"), " ").alias("__ws")
        )
        # docs shorter than one span emit nothing (and would make the
        # sequence() stop negative -> descending-sequence error)
        .where(F.size("__ws") >= w)
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(F.size("__ws") / w).cast("int") - 1,
                )
            ).alias("__i"),
            "__ws",
        )
        .select(
            id_col,
            F.md5(
                F.concat_ws(" ", F.slice("__ws", F.col("__i") * w + 1, w))
            ).alias("__h"),
        )
    )
    counts = spans.groupBy("__h").agg(
        F.count_distinct(id_col).alias("__docs")
    )
    return (
        spans.join(counts, "__h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("__docs") >= 2).cast("int")).alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            (
                F.col("n_dup_spans").cast("double") / F.col("n_spans")
            ).alias("dup_span_ratio"),
        )
        .orderBy(id_col)
    )


def bpe_pair_counts(
    documents: DataFrame,
    k: int = 30,
) -> DataFrame:
    """First step of BPE tokenizer training at corpus scale: count
    adjacent character pairs across the corpus and return the top-k merge
    candidates (Sennrich et al. 2016). The real-trainer formulation: pair
    counting runs over the DISTINCT-word vocabulary weighted by word
    frequency — the corpus-sized stage is just a word count (map-side
    combined), and the bigram explode touches |vocab| rows, which is
    sublinear in corpus size (Heaps' law). A full BPE train iterates
    this: merge the top pair, re-derive, repeat.

    Bigrams come from substring(w, i, 2) directly — no char-array
    explode. Words shorter than 2 chars emit nothing (and would make the
    sequence() stop 0 -> descending-sequence error).

    Output: (pair, n_occurrences) — integer counts, exact oracle.
    """
    words = documents.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    wf = (
        words.groupBy("w")
        .agg(F.count("*").alias("wf"))
        .where(F.length("w") >= 2)
    )
    pairs = wf.select(
        "wf",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(k)
    )


def curation_pipeline(
    documents: DataFrame, min_quality: float = 0.5
) -> DataFrame:
    """End-to-end corpus curation: exact-dedup (keep min doc_id per
    normalized fingerprint), drop low-quality docs, account retained
    tokens per language. The composition the whole module exists for —
    each stage is a pure DataFrame transform, so Catalyst pipelines the
    dedup window, the quality predicate, and the final aggregate into one
    shuffle per stage with no materialization between them."""
    from .dedup import normalized  # same fingerprint as exact_dedup
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(normalized("text"))).orderBy("doc_id")
    deduped = (
        documents.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(x) for x in STOPWORDS_EN])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x)))
    quality = (
        F.lit(0.5) * F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.5) * (F.lit(1.0) - n_stop.cast("double") / n_words)
    )
    return (
        deduped.withColumn("__q", quality)
        .where(F.col("__q") >= F.lit(min_quality))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        )
        .orderBy("lang")
    )


def bigram_lm_score(documents: DataFrame) -> DataFrame:
    """LM-style fluency scoring without a trained model: corpus bigram
    statistics turned into per-document features —

    - ``min_cond_p``: the weakest bigram transition in the document,
      min over bigrams of count(w1 w2)/count(w1 *) (a document whose
      every transition is common reads as fluent; one out-of-distribution
      transition drags the min down — the cheap stand-in for min token
      log-prob);
    - ``sum_bits``/``avg_bits``: total/mean information weight of the
      document's bigrams, bits(c) = floor(log2(c)) + 1 = length(bin(c)).

    Everything is engine-exact arithmetic: integer counts, bit-length via
    the binary string (log2 without log — ``bin()`` is pure string
    formatting in both engines), and single correctly-rounded double
    divisions; min over exact doubles is order-free. Docs with < 2
    whitespace tokens have no bigrams and are omitted.

    Plan shape: two vocab-sized count tables (explode + groupBy, partial
    agg map-side), then one shuffle join of doc bigrams against them on
    the bigram/unigram key — the TF-IDF shape, linear in corpus size.
    """
    from ..plans.scratch import scratch_persist

    toks = F.split(F.col("text"), " ")
    # the exploded (doc_id, w1, bigram) frame feeds BOTH the bigram-count
    # aggregate and the verify join; Spark does not CSE across those
    # branches, so persist it (one explode per run — the
    # bigram_xent_terms pattern). w1 is carried FROM the explode (the
    # zip_with lambda already holds the first token), replacing the
    # per-joined-row split(bigram)[0] re-parse AND the inferred
    # isnotnull(split(...)[0]) join-key filter below the join.
    doc_bi = scratch_persist(_bigram_w1_pairs(documents, {"doc_id": "doc_id"}))
    uni = (
        documents.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    bi = doc_bi.groupBy("bigram").agg(F.count("*").alias("c2"))
    joined = doc_bi.join(bi, "bigram").join(uni, "w1")
    cond_p = F.col("c2").cast("double") / F.col("c1").cast("double")
    bits = F.length(F.bin(F.col("c2")))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.min(cond_p).alias("min_cond_p"),
            F.sum(bits).alias("sum_bits"),
        )
        .withColumn(
            "avg_bits",
            F.col("sum_bits").cast("double") / F.col("n_bigrams").cast("double"),
        )
        .orderBy("doc_id")
    )


def _bigram_w1_pairs(documents: DataFrame, carry: dict[str, str]) -> DataFrame:
    """The corpus bigram explode shared by bigram_lm_score and
    bigram_xent_terms: (carry..., w1, bigram) rows, one per adjacent
    token pair, built so the per-row work is minimal —

    - the words array is materialized ONCE per row (``__w``): inlining
      split(text) into the zip_with expression re-splits the text ~5x
      per row (size guard + two slices + the filter — measured on the
      r14 shingle source, the same fix as repetition_ratio);
    - the explode emits ``w1`` (the pair's first token) NEXT TO the
      concatenated bigram string, straight from the zip_with lambda —
      identical to split(bigram, ' ')[0] by construction (tokens cannot
      contain the delimiter), so downstream joins on w1 never re-parse
      the bigram and the optimizer's inferred join-key notnull filter
      tests a plain column instead of a split.
    """
    w = F.col("__w")
    m = F.size(w)
    pairs = F.zip_with(
        F.slice(w, 1, m - 1),
        F.slice(w, 2, m - 1),
        lambda a, b: F.struct(
            a.alias("w1"), F.concat(a, F.lit(" "), b).alias("bigram")
        ),
    )
    sel = [F.col(src).alias(dst) for dst, src in carry.items()]
    out = list(carry.keys())
    return (
        documents.withColumn("__w", F.split(F.col("text"), " "))
        .where(m >= 2)
        .select(*sel, F.explode(pairs).alias("__p"))
        .select(
            *out,
            F.col("__p.w1").alias("w1"),
            F.col("__p.bigram").alias("bigram"),
        )
    )


def domain_affinity_score(
    documents: DataFrame,
    domain_col: str = "lang",
    domain_value: str = "en",
) -> DataFrame:
    """DSIR-style importance weights without floats: per document, the
    summed log2-bucketed frequency contrast between an in-domain corpus
    (rows where ``domain_col == domain_value``) and the full corpus —
    affinity_bits = sum over the doc's distinct unigrams of
    bits(c_domain(w) + 1) - bits(c_all(w) + 1), bits(x) = len(bin(x)).

    Positive-leaning scores mark documents whose vocabulary concentrates
    in the target domain — the cheap, engine-exact proxy for the
    log-likelihood-ratio weights importance resampling uses (log2 via
    binary string length, integer everywhere; the +1 smooths unseen
    terms the way add-one smoothing does).

    Plan: ONE vocab-sized count table (corpus and in-domain counts come
    out of the same token explode via a conditional aggregate — no
    second corpus scan), then one join of doc terms against it — TF-IDF
    shape, linear in corpus size.
    """
    toks = F.split(F.col("text"), " ")
    doc_terms = documents.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("w")
    )
    counts = (
        documents.select(
            F.explode(toks).alias("w"),
            (F.col(domain_col) == domain_value).alias("in_dom"),
        )
        .groupBy("w")
        .agg(
            F.count("*").alias("c_all"),
            F.count_if(F.col("in_dom")).alias("c_dom"),
        )
    )
    bits = lambda c: F.length(F.bin(c))  # noqa: E731
    contrast = bits(F.col("c_dom") + F.lit(1)) - bits(F.col("c_all") + F.lit(1))
    return (
        doc_terms.join(counts, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum(contrast).alias("affinity_bits"),
        )
        .withColumn(
            "affinity_per_term",
            F.col("affinity_bits").cast("double") / F.col("n_terms").cast("double"),
        )
        .orderBy("doc_id")
    )


def langid_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the n-gram-marker
    classifier's prediction against the labeled lang column — per
    (actual, predicted) counts plus the diagonal hit flag. One pass,
    integer counts — exact oracle; the offline eval loop every
    classifier in the curation stack needs.
    """
    predicted = F.lit("unknown")
    # same first-match-wins chain as lang_id (built back-to-front so
    # earlier markers take precedence)
    for code, pattern in reversed(LANG_MARKERS):
        predicted = F.when(F.col("text").rlike(pattern), F.lit(code)).otherwise(
            predicted
        )
    return (
        documents.select(F.col("lang").alias("actual"), predicted.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
        .withColumn("is_hit", F.col("actual") == F.col("predicted"))
        .orderBy("actual", "predicted")
    )


def plog2(c: F.Column) -> F.Column:
    """Deterministic piecewise-linear log2 for positive integer counts,
    exact cross-engine: with b = bit_length(c) = length(bin(c)),
    plog2(c) = (b-1) + (c - 2^(b-1)) / 2^(b-1). The mantissa correction
    is a division by a power of two — exact in IEEE — so every step is
    reproducible arithmetic on both engines (max error vs true log2 is
    ~0.086 bits, bias-free enough for ranking/scoring). This is the
    portable-log story that unlocks LM-style scores without
    transcendentals.
    """
    b = F.length(F.bin(c))
    half = F.pow(F.lit(2.0), (b - F.lit(1)).cast("double"))
    return (b - F.lit(1)).cast("double") + (c.cast("double") - half) / half


def bigram_xent_terms(
    documents: DataFrame, carry: dict[str, str]
) -> DataFrame:
    """SHARED exactness kernel of the corpus-bigram-LM scores: per
    exploded bigram, the floor-quantized nano-bit cross-entropy term
    floor((plog2(c1) - plog2(c2)) * 1e9), where c1 = corpus count of
    the bigram's first word and c2 = corpus count of the bigram — plus
    the caller's carry columns (``carry`` maps output alias → source
    column). Callers group the returned (carry..., bigram, xent_nbits)
    frame to their own granularity: bigram_cross_entropy by doc,
    curation.domain_reweight_by_loss by domain, curation.ccnet_bucket
    by (group, doc).

    This quantization recipe is a cross-engine ORACLE CONTRACT (every
    oracle replays it via the shared plog2 CTE); keeping it in one
    place is what keeps the three operators in sync with their gates.

    The exploded bigram frame feeds both the bigram-count aggregate and
    the verify join; Spark does not CSE across those branches, so it is
    scratch-persisted here (one explode per run, all three callers).
    """
    from ..plans.scratch import scratch_persist

    # _bigram_w1_pairs materializes the words array once per row and
    # carries w1 from the zip_with lambda (identical to
    # split(bigram, ' ')[0] by construction), so neither the explode
    # nor the verify join re-splits any string (r15 opt).
    doc_bi = scratch_persist(_bigram_w1_pairs(documents, carry))
    toks = F.split(F.col("text"), " ")
    uni = (
        documents.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    bi = doc_bi.groupBy("bigram").agg(F.count("*").alias("c2"))
    joined = doc_bi.join(bi, "bigram").join(uni, "w1")
    term = F.floor((plog2(F.col("c1")) - plog2(F.col("c2"))) * F.lit(1e9))
    return joined.select(
        *carry.keys(), "bigram", term.alias("xent_nbits")
    )


def bigram_cross_entropy(documents: DataFrame) -> DataFrame:
    """Per-document LM cross-entropy estimate under the corpus bigram
    model: mean over the doc's bigrams of -plog2(c(w1 w2)/c(w1 *)) =
    mean(plog2(c1) - plog2(c2)) bits — the fluency/perplexity signal
    quality filters rank on, here in exact cross-engine arithmetic
    (piecewise-linear log2, correctly-rounded division by the bigram
    count; the per-doc mean divides an order-insensitive quantized sum).

    Same two-count-table plan as bigram_lm_score (TF-IDF shape). The
    per-bigram bit terms are floor-quantized to 1e-9 before the sum so
    the aggregation order can't flip ulps (bigram_xent_terms is the
    shared kernel).
    """
    return (
        bigram_xent_terms(documents, {"doc_id": "doc_id"})
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("xent_nbits").alias("_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("_q").cast("double")
                / F.lit(1e9)
                / F.col("n_bigrams").cast("double")
            ).alias("cross_entropy_bits"),
        )
        .orderBy("doc_id")
    )


SENTENCE_SPLIT_RE = r"[.!?]+"


def sentence_stats(documents: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats: sentence count, mean
    words per sentence, and the longest sentence's word count — the
    readability layer on top of text_stats (run-on boilerplate and
    list-like fragments both show up here). Splitting is a shared
    Java/RE2 regex on terminal punctuation; empty segments (trailing
    punctuation, "..") are dropped in both engines. Integer counts and
    one exact division — engine-exact.
    """
    segs = F.filter(
        F.transform(
            F.split(F.col("text"), SENTENCE_SPLIT_RE),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    words_per = F.transform(segs, lambda s: F.size(F.split(s, " ")))
    n_sent = F.size(segs)
    total_words = F.aggregate(
        words_per, F.lit(0), lambda acc, x: acc + x
    )
    return (
        documents.select(
            "doc_id",
            n_sent.alias("n_sentences"),
            total_words.alias("n_sentence_words"),
            F.when(
                n_sent > 0,
                total_words.cast("double") / n_sent.cast("double"),
            ).otherwise(F.lit(0.0)).alias("avg_sentence_words"),
            F.when(n_sent > 0, F.array_max(words_per))
            .otherwise(F.lit(0))
            .alias("max_sentence_words"),
        )
        .orderBy("doc_id")
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the doc's DISTINCT
    word n-grams whose first corpus occurrence (minimum doc_id) is this
    document — the diversity / curriculum signal used to rank documents
    by how much genuinely new phrasing they contribute versus recombining
    what earlier documents already said (novelty ~0 flags templated or
    derivative content even when no single source passes a dedup
    threshold). Docs with fewer than n words carry no n-grams and are
    excluded.

    Scale shape: the same inverted-index plan as TF-IDF — distinct grams
    per doc (narrow map), ONE aggregation on the gram key for first-seen
    doc (map-side combined min), one equi-join back on the gram key, one
    per-doc rollup. Linear in total gram count; the single division per
    doc is exact cross-engine.
    """
    toks = F.split(F.col("text"), " ")
    sz = F.size(toks)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), sz - F.lit(n)),
            lambda i: F.array_join(F.slice(toks, i + F.lit(1), n), " "),
        )
    )
    doc_grams = (
        documents.where(sz >= F.lit(n))
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    first_seen = doc_grams.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc")
    )
    return (
        doc_grams.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# textrank driver fast path bound: at cap² = 65k edges the driver loop
# is trivially safe (≤ ~2 MB of int rows); past it the unrolled
# distributed iteration keeps the 100 TB shape (vocab is a knob, so the
# route is decided at plan-build time — no probe job needed)
TEXTRANK_DRIVER_VOCAB_CAP = 256


def textrank_keywords(
    documents: DataFrame,
    vocab_size: int = 50,
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Corpus-level keyword ranking: PageRank over the term-adjacency
    graph (TextRank) — nodes are the top-``vocab_size`` tokens, edges are
    within-document adjacencies (symmetrized, weighted by co-occurrence
    count), ranks from ``iterations`` unrolled power iterations.

    Iterative graph algorithms on Spark are loops that BUILD the plan,
    not loops that collect: each iteration is one join + one aggregation
    on the term key, so the whole computation is ``iterations`` keyed
    shuffles over an edge table bounded by vocab_size² — corpus size only
    enters through the one explode + adjacency window (per-doc keyed, no
    global window) and the map-side-combined vocabulary count.

    Numeric discipline: ranks are integer micro-units; each edge
    contribution is ``(rank·w) div out_weight`` and damping is
    ``(85·s) div 100`` — pure integer floor arithmetic, so every rank is
    bit-exact replayable in the DuckDB oracle despite being an
    "iterative" algorithm. (Floor-per-edge differs from float PageRank by
    <1e-5 relative — the ranking is the point, and it is deterministic.)
    """
    toks = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(vocab_size)
        .select("token")
    )
    # adjacency is computed ROW-LOCALLY (transform over the words array),
    # not with a lag window: the window version shuffles the whole token
    # stream on doc_id before pairing; this is a pure map + explode with
    # zero pre-aggregation shuffles. Symmetrization happens AFTER the
    # directed aggregation, on the vocab²-bounded pair table, so the
    # corpus-side pipeline runs once, not twice.
    pairs = (
        documents.withColumn("__w", F.split(F.col("text"), " "))
        .where(F.size("__w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__w) - 1), "
                    "i -> struct(__w[i - 1] AS prev, __w[i] AS token))"
                )
            ).alias("p")
        )
        .select("p.prev", "p.token")
        .where(F.col("prev") != F.col("token"))
        .join(F.broadcast(vocab), "token")
        .join(F.broadcast(vocab.withColumnRenamed("token", "prev")), "prev")
    )
    from ..plans.scratch import scratch_persist

    # the directed pair table is referenced twice by the symmetrization
    # and the corpus pipeline above it must run exactly once — persist it
    # (vocab²-bounded rows, driver-scale state, not corpus caching)
    directed = scratch_persist(
        pairs.groupBy(
            F.col("prev").alias("src"), F.col("token").alias("dst")
        ).agg(F.count("*").alias("w"))
    )
    edges = (
        directed.unionAll(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    # vocab and the weighted edge table feed every unrolled iteration —
    # without persisting them the final plan re-runs the corpus explode
    # once per iteration (measured 3.0s -> ~1s at sf0.1). Both are
    # vocab-bounded, driver-scale state.
    vocab = scratch_persist(vocab)
    edges = scratch_persist(edges.join(F.broadcast(outw), "src"))
    base = 1_000_000 * (100 - damping_pct) // 100  # teleport mass
    if vocab_size <= TEXTRANK_DRIVER_VOCAB_CAP:
        # Driver fast path (r14 opt; the connected_components pattern):
        # the weighted edge table is vocab²-bounded and vocab_size is a
        # compile-time knob, so at ≤ cap the whole power iteration is a
        # loop over ≤ cap² integer rows — the SAME floor arithmetic
        # ((rank·w) div wout, damping div 100, nonnegative operands so
        # Python // == SQL div), bit-identical to the unrolled plan,
        # without the per-iteration broadcast + join jobs (measured 30
        # cold jobs → ~7; the corpus pipeline still runs exactly once,
        # via the persisted directed/vocab frames the collects read).
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        vlist = [r["token"] for r in vocab.collect()]
        erows = [
            (r["src"], r["dst"], r["w"], r["wout"])
            for r in edges.collect()
        ]
        ranks_d = {t: 1_000_000 for t in vlist}
        for _ in range(iterations):
            inc: dict = {}
            for src, dst, w, wout in erows:
                inc[dst] = inc.get(dst, 0) + (ranks_d[src] * w) // wout
            ranks_d = {
                t: base + (damping_pct * inc.get(t, 0)) // 100
                for t in vlist
            }
        spark = documents.sparkSession
        out = spark.createDataFrame(
            [(t, ranks_d[t]) for t in vlist],
            StructType(
                [
                    StructField("token", StringType(), False),
                    StructField("rank_u", LongType(), False),
                ]
            ),
        )
        return out.orderBy(F.col("rank_u").desc(), F.col("token").asc())
    ranks = vocab.select("token", F.lit(1_000_000).cast("long").alias("rank_u"))
    for it in range(iterations):
        contrib = edges.join(
            F.broadcast(ranks.withColumnRenamed("token", "src")), "src"
        ).select("dst", F.expr("(rank_u * w) div wout").alias("c"))
        incoming = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            vocab.join(
                F.broadcast(incoming.withColumnRenamed("dst", "token")),
                "token",
                "left",
            )
            .select(
                "token",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).alias("rank_u"),
            )
        )
        if it < iterations - 1:
            # each rank frame is referenced by the next iteration's
            # broadcast AND its successor chain — persist (vocab_size
            # rows) so the chain is evaluated once per iteration, not
            # re-derived from scratch at every downstream broadcast
            ranks = scratch_persist(ranks)
    return ranks.orderBy(F.col("rank_u").desc(), F.col("token").asc())


CODE_CHARS_RE = r"[{}()\[\];=<>]"


def code_detect(documents: DataFrame, threshold_ppm: int = 15_000) -> DataFrame:
    """Code-vs-prose routing: the corpus-splitting stage that sends
    documents to a code pipeline vs a natural-language pipeline. Two
    auditable signals per document — code-punctuation density
    (``{}()[];=<>`` as ppm of characters) and indented-line rate (lines
    starting with two spaces, the dominant signal for whitespace-
    structured code) — plus the routing verdict.

    Like quality_rules this is one narrow map stage, zero shuffles, all
    JVM expressions (regexp_replace + higher-order filter); ratios are
    integer ppm via floor division, exact cross-engine.
    """
    n_chars = F.length("text")
    sym = n_chars - F.length(F.regexp_replace(F.col("text"), CODE_CHARS_RE, ""))
    lines = F.split(F.col("text"), "\n")
    indented = F.size(F.filter(lines, lambda l: l.startswith("  ")))
    d = (
        documents.select("doc_id", "text")
        .withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("__sym", sym.cast("long"))
        .withColumn("__ind", indented.cast("long"))
        .withColumn(
            "sym_ppm",
            F.coalesce(
                F.expr("(__sym * 1000000) div nullif(n_chars, 0)"), F.lit(0)
            ),
        )
        .withColumn(
            "indent_ppm",
            F.coalesce(
                F.expr("(__ind * 1000000) div nullif(n_lines, 0)"), F.lit(0)
            ),
        )
    )
    is_code = (F.col("sym_ppm") >= threshold_ppm) | (
        F.col("indent_ppm") >= 300_000
    )
    return d.select(
        "doc_id",
        "n_chars",
        "n_lines",
        "sym_ppm",
        "indent_ppm",
        is_code.cast("int").alias("is_code"),
    ).orderBy("doc_id")


def length_profile(
    documents: DataFrame, quantiles: tuple[int, ...] = (50, 90, 99)
) -> DataFrame:
    """Exact per-source document-length quantiles (the data-profiling
    table behind chunk-size and packing decisions): for each source,
    min/max/total plus the discrete quantiles — value at row
    ``ceil(q·n/100)`` of the (n_chars, doc_id) ascending sort, the
    deterministic quantile_disc convention, so results are exact and
    engine-portable (percentile_approx would be cheaper at scale but is
    neither exact nor cross-engine reproducible).

    Scale shape: one shuffle on source; the rank window and both
    aggregates share that exchange. The per-key sort is the honest cost
    of EXACT quantiles — a source holding half the corpus sorts half the
    corpus (mitigate upstream by range-partitioning within the hot key,
    or accept approx quantiles). Counts are broadcast back for the
    quantile-row selection.
    """
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = documents.select("source", "n_chars", "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    stats = ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
    )
    j = ranked.join(F.broadcast(stats.select("source", "n_docs")), "source")
    qcols = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"({q} * n_docs + 99) div 100"),
                F.col("n_chars"),
            )
        ).alias(f"p{q}_chars")
        for q in quantiles
    ]
    return (
        stats.join(j.groupBy("source").agg(*qcols), "source")
        .orderBy("source")
    )


def oov_rate(documents: DataFrame, vocab_size: int = 20) -> DataFrame:
    """Tokenizer-coverage audit: per document, the fraction of tokens
    outside the corpus top-``vocab_size`` vocabulary (the OOV rate a
    fixed-vocab tokenizer would suffer). High-OOV docs are either
    foreign-language, noisy, or domain-shifted — all routing signals.

    Scale shape: the vocabulary is an aggregation + driver-size top-k,
    collapsed to ONE array row and broadcast; the corpus pass is then a
    single map stage (higher-order filter against the array) — zero
    corpus shuffles, no explode re-aggregation. OOV ppm is integer floor
    division, exact cross-engine.
    """
    toks = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(vocab_size)
    )
    vocab_arr = vocab.agg(F.collect_list("token").alias("__vocab"))
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_oov = F.size(
        F.filter(words, lambda t: ~F.array_contains(F.col("__vocab"), t))
    ).cast("long")
    return (
        documents.join(F.broadcast(vocab_arr))
        .select("doc_id", n_tokens.alias("n_tokens"), n_oov.alias("n_oov"))
        .withColumn(
            "oov_ppm",
            F.coalesce(
                F.expr("(n_oov * 1000000) div nullif(n_tokens, 0)"),
                F.lit(0),
            ),
        )
        .orderBy("doc_id")
    )


def _bpe_word_counts(documents: DataFrame) -> DataFrame:
    """Character-symbolized word-count table — the corpus BPE actually
    trains on (|vocab| rows, not |corpus|): one explode+count shuffle,
    then a row-local space-join symbolization."""
    return (
        documents.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(
            F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias(
                "syms"
            ),
            "n",
        )
    )


def bpe_train(documents: DataFrame, n_merges: int = 3) -> DataFrame:
    """Distributed BPE training, the real merge loop (not just pair
    counts — cf. bpe_pair_counts): start from the character
    symbolization of the corpus word-count table, then ``n_merges``
    times pick the globally most frequent adjacent symbol pair
    (count desc, pair asc tie-break) and merge it everywhere. Returns
    the learned merge table (round, pair, merged symbol, count) — the
    artifact a tokenizer trainer actually ships.

    The merge-application trick is engine-portable plain string ops, no
    lookarounds (RE2 has none): double every separator space, replace
    ``' a  b '`` with ``' ab '`` (each boundary now owns its own space,
    so adjacent occurrences can't swallow each other's separators —
    correct greedy left-to-right BPE), then collapse doubles.

    Scale shape: training runs on the WORD-COUNT table (|vocab| rows,
    not |corpus|) — one explode+count shuffle up front, then per round
    one row-local pair explode + pair-keyed aggregation, a TakeOrdered(1)
    argmax (no global sort), and a broadcast of the single winning pair.
    Iterations build the plan; persisted intermediates are vocab-scale.

    Caveat: '.' in the symbolization regex is a UTF-16 code unit in
    Spark and a codepoint in DuckDB — identical on BMP text; non-BMP
    (emoji) corpora would need explicit codepoint splitting.
    """
    merge_rows, _ = _bpe_merge_loop(_bpe_word_counts(documents), n_merges)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_round")


def _bpe_merge_loop(words: DataFrame, n_merges: int):
    """The shared train/apply loop: per round, argmax the adjacent-pair
    counts and apply the winning merge to every word. Returns the list
    of 1-row merge DataFrames and the fully-merged word table."""
    from ..plans.scratch import scratch_persist

    words = scratch_persist(words)
    merge_rows = []
    for r in range(1, n_merges + 1):
        pairs = (
            words.withColumn("__s", F.split(F.col("syms"), " "))
            .where(F.size("__s") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__s) - 1), "
                        "i -> struct(__s[i - 1] AS a, __s[i] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(
                F.col("p.a").alias("left_sym"), F.col("p.b").alias("right_sym")
            )
            .agg(F.sum("n").alias("pair_count"))
        )
        top1 = scratch_persist(
            pairs.orderBy(
                F.col("pair_count").desc(), "left_sym", "right_sym"
            )
            .limit(1)
            .select(
                F.lit(r).cast("int").alias("merge_round"),
                "left_sym",
                "right_sym",
                F.concat("left_sym", "right_sym").alias("merged"),
                "pair_count",
            )
        )
        merge_rows.append(top1)
        # LEFT join, not crossJoin: a round with NO adjacent pair left
        # (fully-merged or single-char vocabulary) yields an empty argmax
        # row, and a cross join would annihilate the word table — words
        # must pass through unchanged instead (hypothesis-found edge)
        words = scratch_persist(
            words.join(
                F.broadcast(
                    top1.select(
                        F.col("left_sym").alias("__a"),
                        F.col("right_sym").alias("__b"),
                    )
                ),
                F.lit(True),
                "left",
            )
            .withColumn(
                "syms",
                F.expr(
                    "CASE WHEN __a IS NULL THEN syms ELSE "
                    "trim(replace(replace("
                    "' ' || replace(syms, ' ', '  ') || ' ', "
                    "' ' || __a || '  ' || __b || ' ', "
                    "' ' || __a || __b || ' '), '  ', ' ')) END"
                ),
            )
            .select("syms", "n")
        )
    return merge_rows, words


def bpe_encode(documents: DataFrame, n_merges: int = 3) -> DataFrame:
    """Tokenizer APPLY — the other half of the bpe_train story: encode
    the corpus with the merge table the loop just learned and emit the
    corpus token histogram ``(token, n_tokens, n_word_forms)`` — the
    vocabulary-frequency artifact behind token budgets, OOV audits, and
    subword coverage checks. ``n_tokens`` counts every occurrence
    (weighted by word frequency, including repeats within one word);
    ``n_word_forms`` counts distinct word shapes containing the token.

    Same scale shape as training: everything after the initial word
    count runs on the |vocab|-rows table, so the encode explode and the
    token-keyed aggregation (map-side combined) never touch corpus-sized
    data. The merge application is the identical doubled-space replace
    chain, so the segmentation is bit-exact greedy left-to-right BPE in
    both engines.
    """
    _, words = _bpe_merge_loop(_bpe_word_counts(documents), n_merges)
    return (
        words.select(
            "syms", "n", F.explode(F.split(F.col("syms"), " ")).alias("token")
        )
        .groupBy("token")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.countDistinct("syms").alias("n_word_forms"),
        )
        .orderBy(F.col("n_tokens").desc(), "token")
    )


def quality_percentile(documents: DataFrame) -> DataFrame:
    """Per-source percentile normalization of the quality score: sources
    have incomparable raw score scales (a median zh doc shouldn't be
    filtered by an en threshold), so mixing/filtering uses the WITHIN-
    source rank instead — ``pct_ppm = (rank-1)·1e6 div (n-1)`` with
    (score, doc_id) ordering for determinism. Integer output; the raw
    double score rides along for auditing (identical IEEE expression to
    text_stats, so it still hash-matches cross-engine).

    One shuffle on source shared by the rank window and the count —
    same plan family as length_profile, same hot-key caveat.
    """
    q = quality_score_col()
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    ranked = (
        documents.select("doc_id", "source", q.alias("quality_score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    n = ranked.groupBy("source").agg(F.count("*").alias("__n"))
    return (
        ranked.join(F.broadcast(n), "source")
        .withColumn(
            "pct_ppm",
            F.expr("((rank - 1) * 1000000) div greatest(__n - 1, 1)"),
        )
        .select("doc_id", "source", "quality_score", "rank", "pct_ppm")
        .orderBy("doc_id")
    )


def url_domains(documents: DataFrame, k: int = 50) -> DataFrame:
    """Corpus URL-domain inventory: extract every http(s) URL, reduce to
    its registrable host, and rank domains by page and document counts —
    the table behind domain allow/deny lists and per-domain crawl caps.

    Pure JVM regex (shared Java/RE2 subset): one extract-all + explode,
    one map to host, a single domain-keyed aggregation (map-side
    combined — shuffle volume is |domains|), TakeOrdered top-k.
    """
    urls = F.expr(r"regexp_extract_all(text, 'https?://[^ ]+', 0)")
    host = F.regexp_replace(
        F.regexp_extract(F.col("url"), r"https?://([^/ ]+)", 1),
        r"^www\.",
        "",
    )
    return (
        documents.select("doc_id", F.explode(urls).alias("url"))
        .select("doc_id", host.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_urls").desc(), F.col("domain").asc())
        .limit(k)
    )


# Horner string hash over code points mod the Mersenne prime 2^31-1:
# every intermediate < 2^51, so the fold is ANSI-safe BIGINT arithmetic
# in Spark SQL AND plain list_reduce arithmetic in DuckDB — the same
# portability contract as operators/hashing.py's band fold, but usable
# JVM-side (no Python worker) since it never needs 64-bit wraparound.
HORNER_HASH = (
    "aggregate(transform(split({col}, ''), ch -> ascii(ch)), 0L, "
    "(acc, c) -> (acc * 1000003 + c) % 2147483647)"
)


def hash_embed(documents: DataFrame, dim: int = 32) -> DataFrame:
    """Feature-hashing text embedder (the hashing trick, cf. scikit's
    HashingVectorizer): token → portable Horner hash → bucket; a
    document's embedding is its bucket-count vector, emitted SPARSE as
    (doc_id, bucket, cnt) rows. Vocabulary-free (no training pass, no
    drift between corpus shards), deterministic, and integer-exact —
    the honest baseline featurizer that turns the text corpus into
    input for every downstream ANN/dedup/centroid operator.

    One explode + one (doc, bucket)-keyed count — map-side combined,
    JVM-side end to end (no Python workers; the hash is a SQL
    aggregate fold over code points).
    """
    h = HORNER_HASH.format(col="token")
    return (
        documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .where(F.length("token") > 0)
        .withColumn("bucket", F.expr(f"pmod({h}, {dim})").cast("int"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
        .orderBy("doc_id", "bucket")
    )


def quality_classifier(documents: DataFrame, dim: int = 32) -> DataFrame:
    """fastText-style linear quality classifier INFERENCE at corpus
    scale: hashing-trick featurize (hash_embed) then a sparse dot with a
    broadcast weight vector and a sign decision — the standard
    "score every document with a shipped quality model" pass (cf.
    CCNet/LLaMA wiki-ref filtering). The weights here are a
    deterministic integer function of the bucket id (a stand-in for
    shipped model weights, which would arrive as a dim-length array);
    the pipeline shape — tokenize → hash → sparse dot → threshold — is
    the real artifact, and integer weights keep the score BIGINT-exact
    cross-engine.

    Scale: one explode + ONE doc_id-keyed sum (map-side combined), then
    a join back to documents so zero-token docs still get a scored row
    (score 0). The bucket-count table of hash_embed is deliberately NOT
    an intermediate: score = Σ_tokens w(bucket(token)) needs no
    per-bucket counts, and fusing the weight into the token projection
    saves the second (doc_id,bucket)→doc_id exchange. No Python
    workers, no weight shuffle: the weight is an inline expression of
    the hashed token, so the "model" adds zero bytes to the shuffle.
    """
    h = HORNER_HASH.format(col="token")
    # w(b) in [-1001, 1001]; bucket >= 0 so plain % is already positive
    w = f"((pmod({h}, {dim}) * 1000003 + 99991) % 2003) - 1001"
    scores = (
        documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .where(F.length("token") > 0)
        .select("doc_id", F.expr(w).cast("long").alias("__w"))
        .groupBy("doc_id")
        .agg(F.sum("__w").alias("score"))
    )
    return (
        documents.select("doc_id")
        .join(scores, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("score"),
            F.when(F.coalesce(F.col("score"), F.lit(0)) > 0, "keep")
            .otherwise("drop")
            .alias("label"),
        )
        .orderBy("doc_id")
    )


BLOCKLIST_DEFAULT = ("site1.example.com", "site3.example.com", "ads.example.org")


def url_blocklist_flags(
    documents: DataFrame, blocklist: tuple[str, ...] = BLOCKLIST_DEFAULT
) -> DataFrame:
    """Domain deny-list filtering — the crawl-hygiene pass every web
    corpus runs before training (cf. CommonCrawl block/allow lists):
    extract every URL, reduce to its host, and flag documents whose
    host matches a blocked domain exactly OR as a subdomain (suffix
    match on '.' + domain). Emits a flag per document (not a filter) so
    the audit trail conserves rows; callers drop `blocked` downstream.

    The deny list is driver-side tiny and compiled INTO the expression
    (an `exists` over an array literal — JVM-side, no join, no shuffle
    for the membership test); the only shuffle is the doc_id re-agg of
    the exploded URLs, map-side combined. At 100 TB a million-entry
    blocklist would swap the array literal for a broadcast join on the
    registrable domain — same flag semantics.
    """
    urls = F.expr(r"regexp_extract_all(text, 'https?://[^ ]+', 0)")
    host = F.regexp_replace(
        F.regexp_extract(F.col("url"), r"https?://([^/ ]+)", 1),
        r"^www\.",
        "",
    )
    # F.lit array, NOT f-string SQL: a blocklist entry containing a quote
    # must stay data, never become expression text.
    deny = F.array(*[F.lit(d) for d in blocklist])
    hit = F.exists(
        deny,
        lambda d: (F.col("host") == d)
        | F.col("host").endswith(F.concat(F.lit("."), d)),
    )
    per_doc = (
        documents.select("doc_id", F.explode(urls).alias("url"))
        .select("doc_id", host.alias("host"))
        .withColumn("hit", hit.cast("int"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("hit").alias("n_blocked"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_urls", F.lit(0)).cast("long").alias("n_urls"),
            F.coalesce("n_blocked", F.lit(0)).cast("long").alias("n_blocked"),
            (F.coalesce("n_blocked", F.lit(0)) > 0).alias("blocked"),
        )
        .orderBy("doc_id")
    )


def kn_bigram_top(documents: DataFrame, k: int = 20) -> DataFrame:
    """Interpolated Kneser-Ney bigram table (Kneser & Ney 1995; Chen &
    Goodman 1998's benchmark smoother), top-``k`` continuations by
    smoothed probability — the LM-head view of the corpus that
    perplexity filters and synthetic-data detectors calibrate against.
    Plain MLE overrates frequent-but-unproductive continuations; KN's
    continuation counts ("in how many distinct contexts does w2
    appear?") is the fix, and the gap between this table and
    bigram_lm's MLE table is the boilerplate signal.

    With discount D = 3/4 (Chen & Goodman's benchmark value), exact
    rational arithmetic (x4 through the formula — no floats):

        P_KN(w2|w1) = max(c12 - D, 0)/c1 + D*(nf1/c1)*(nb2/nbtot)
        score_ppb   = (max(4*c12-3, 0)*1e9) div (4*c1)
                    + (3*nf1*nb2*1e9)       div (4*c1*nbtot)

    floor-per-term by convention (both engines identically); every
    count derives from ONE bigram table: c1 = Σ c12 over w1 (so the
    distribution sums to 1 exactly), nf1 = distinct followers of w1,
    nb2 = distinct predecessors of w2, nbtot = distinct bigrams. The
    backoff term's products are corpus-scale x 1e9 — far past BIGINT
    at 100 TB (nf1·nb2 alone can reach ~1e12) — so both numerator and
    denominator go through DECIMAL(38,0) (DuckDB: HUGEINT), the r09
    token-scale convention.

    Scale: one explode + one (w1,w2) groupBy builds the bigram table;
    everything else is w1-/w2-keyed rollups of THAT table (vocabulary-
    sized, not corpus-sized) + a 1-row broadcast for nbtot; top-k is
    TakeOrdered, never a global sort.
    """
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = (
        documents.where(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    from ..plans.scratch import scratch_persist

    bi = scratch_persist(bi)
    left = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").cast("long").alias("nf1")
    )
    right = bi.groupBy("w2").agg(F.count("*").cast("long").alias("nb2"))
    tot = bi.agg(F.count("*").cast("long").alias("nbtot"))
    scored = (
        bi.join(left, "w1")
        .join(right, "w2")
        .join(F.broadcast(tot))
        .select(
            F.concat("w1", F.lit(" "), "w2").alias("bigram"),
            "c12",
            "c1",
            "nf1",
            "nb2",
            F.expr(
                "CAST(CAST(greatest(4 * c12 - 3, 0) AS DECIMAL(38,0))"
                " * 1000000000 div (4 * CAST(c1 AS DECIMAL(38,0)))"
                " + CAST(3 AS DECIMAL(38,0)) * nf1 * nb2 * 1000000000"
                "   div (4 * CAST(c1 AS DECIMAL(38,0)) * nbtot)"
                " AS BIGINT)"
            ).alias("score_ppb"),
        )
    )
    return scored.orderBy(
        F.col("score_ppb").desc(), "bigram"
    ).limit(int(k))

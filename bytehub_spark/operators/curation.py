"""Corpus curation operators for training-data pipelines: deterministic
splits, dataset mixing, and sequence packing.

Everything here is DETERMINISTIC — no rand()/sample() — so runs are
reproducible across engines and cluster layouts, results are oracle-able
in plain SQL, and incremental re-runs assign unchanged docs to unchanged
splits/bins. That property (content- or id-keyed assignment, not
row-order-keyed) is what makes these ops safe at 100 TB where input order
is never stable.
"""

from __future__ import annotations

from typing import Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def token_count_col(text_col: str = "text") -> F.Column:
    """Whitespace token count (matches text.token_counts ws_tokens)."""
    return F.size(F.split(F.col(text_col), " "))


def train_val_test_split(
    documents: DataFrame,
    val_pct: int = 10,
    test_pct: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic split assignment by id residue (id % 100).

    Residues [0, test_pct) → test, [test_pct, test_pct+val_pct) → val,
    rest → train. Id-keyed, so adding documents never reshuffles existing
    assignments (contrast randomSplit, which depends on partition layout).
    """
    r = F.pmod(F.col(id_col), F.lit(100))
    split = (
        F.when(r < test_pct, F.lit("test"))
        .when(r < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return documents.withColumn("split", split)


def split_summary(
    documents: DataFrame,
    val_pct: int = 10,
    test_pct: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Doc and token counts per (split, lang) — the mixture report a
    training run starts from."""
    assigned = train_val_test_split(documents, val_pct, test_pct, id_col)
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count_col(text_col).cast("bigint")).alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


def mix_sources(
    documents: DataFrame,
    quotas: Mapping[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic dataset mixing: keep the first ``quotas[source]`` docs
    per source, by id order.

    The per-source rank is one window (parallel across sources); quota
    lookup is a literal map — no join. Sources absent from ``quotas`` are
    dropped (explicit mixture only). Id-ordered quota fill keeps the kept
    set stable under corpus growth: new (higher-id) docs only enter when a
    quota isn't already met.
    """
    w = Window.partitionBy(source_col).orderBy(id_col)
    quota = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )[F.col(source_col)]
    return (
        documents.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= F.coalesce(quota, F.lit(0)))
        .drop("__rank")
    )


def stratified_sample(
    documents: DataFrame,
    rates: Mapping[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a document iff the first 8
    hex chars of md5("<id>:<stratum>") fall below the stratum's threshold.

    The hash residue is content-keyed, so (a) the decision for a given doc
    never changes as the corpus grows or repartitions — incremental
    pipelines re-derive identical samples; (b) rates are honored in
    expectation with no global count pass, no shuffle, and no coordination
    — the whole op is a narrow filter at any corpus size; (c) md5 and
    lexicographic compare on lowercase hex are engine-portable, so the
    sample is reproducible outside Spark (and exactly SQL-oracle-able).
    Rate granularity is 16^-8 (~4e-10). Strata absent from ``rates`` are
    dropped (explicit mixture only) — same policy as mix_sources.

    Contrast df.sampleBy(): seeded per-partition RNG, so results change
    with partitioning and engine — unusable for reproducible corpus work.
    """
    digest = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(stratum_col))),
        1,
        8,
    )
    keep = F.lit(False)
    for stratum, rate in sorted(rates.items()):
        if rate >= 1.0:
            cond = F.lit(True)
        elif rate <= 0.0:
            cond = F.lit(False)
        else:
            cond = digest < F.lit(format(int(rate * 16**8), "08x"))
        keep = F.when(F.col(stratum_col) == stratum, cond).otherwise(keep)
    return documents.where(keep)


def stratified_sample_summary(
    documents: DataFrame,
    rates: Mapping[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum accounting of a stratified sample: kept docs/tokens —
    the report that validates a mixture before a training run."""
    kept = stratified_sample(documents, rates, stratum_col, id_col)
    return (
        kept.groupBy(stratum_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count_col(text_col).cast("bigint")).alias("n_tokens"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .orderBy(stratum_col)
    )


def chunk_documents(
    documents: DataFrame,
    chunk_words: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the context-
    window preprocessing step for embedding / retrieval pipelines. Chunk
    i covers words [i*stride, i*stride + chunk_words) with stride =
    chunk_words - overlap; the final chunk is the (possibly short) tail.

    Embarrassingly parallel: one narrow map stage, no shuffle — each doc
    expands independently regardless of corpus size. The words array is
    bound as a lambda variable so the text is split ONCE per doc (Spark
    projections have no CSE; see winnow_fingerprints for the measured
    blow-up when an array intermediate is re-inlined per element).
    Chunk count, boundaries, and text are integer-derived — exact
    cross-engine.
    """
    if overlap >= chunk_words:
        raise ValueError("overlap must be smaller than chunk_words")
    stride = chunk_words - overlap
    chunks = F.expr(
        f"element_at(transform(array(split({text_col}, ' ')), ws -> "
        f"transform(sequence(0, (greatest(size(ws) - {chunk_words}, 0) + {stride} - 1) div {stride}), "
        f"i -> struct(i AS chunk_idx, "
        f"concat_ws(' ', slice(ws, i * {stride} + 1, {chunk_words})) AS chunk_text, "
        f"least({chunk_words}, size(ws) - i * {stride}) AS n_words))), 1)"
    )
    return (
        documents.select(F.col(id_col), F.explode(chunks).alias("__c"))
        .select(
            id_col,
            F.col("__c.chunk_idx").alias("chunk_idx"),
            F.col("__c.chunk_text").alias("chunk_text"),
            F.col("__c.n_words").alias("n_words"),
        )
        .orderBy(id_col, "chunk_idx")
    )


def cap_per_group(
    documents: DataFrame,
    group_col: str = "source",
    cap: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap: keep at most ``cap`` docs per group,
    preferring longer documents (n_chars as the quality proxy), ties by
    id. The standard web-corpus anti-bias step — without per-domain caps a
    handful of boilerplate-heavy domains dominate the token mixture.

    Scale shape: ONE hash shuffle on the group key, then a per-group heap
    (row_number over a partitioned window — no global sort, and the
    window partitions by the grouping key so there is no single-task
    collapse). Domains are numerous and the cap is small, so output skew
    is bounded at cap rows per group regardless of input skew.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_chars").desc(), F.col(id_col).asc()
    )
    return (
        documents.withColumn("rank_in_group", F.row_number().over(w))
        .where(F.col("rank_in_group") <= cap)
        .select(group_col, id_col, "rank_in_group", "n_chars")
        .orderBy(group_col, "rank_in_group")
    )


def temperature_mix_plan(
    documents: DataFrame,
    token_budget: int = 100_000,
    group_col: str = "lang",
) -> DataFrame:
    """Temperature-based mixture planning (alpha = 0.5): compute, per
    group (language / source), the sampling weight proportional to
    sqrt(group token count) and the per-group token target + sampling
    rate that hit ``token_budget`` total. This is the standard
    multilingual rebalancing step (e.g. the mBERT/XLM-R exponential
    smoothing with alpha = 0.5): raw-frequency sampling drowns low-
    resource groups, uniform over-samples them; sqrt sits between.

    alpha is FIXED at 0.5 because sqrt is an IEEE correctly-rounded op
    (bit-exact cross-engine) while pow/exp/log are not — the general-
    alpha variant of this planner cannot be hash-gated across engines.

    Exactness: sqrt(tokens) is re-quantized at 1e-6 into integers whose
    grand total is an EXACT integer sum (group order never matters);
    weight / token_target / sample_rate derive from the two integers with
    fixed double expression shapes (correctly-rounded divides).

    Scale shape: one map-side-combined groupBy on the group key (output
    is |groups| rows), one scalar total broadcast back — nothing corpus-
    sized moves. The plan table then drives mix_sources /
    stratified_sample; the planner itself never touches row data.
    """
    per_group = documents.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    wq = F.round(
        F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e6)
    ).cast("decimal(20,0)")
    g = per_group.select(group_col, "n_docs", "n_tokens", wq.alias("__wq"))
    total = g.agg(F.sum("__wq").alias("__wtot"))
    weight = F.col("__wq").cast("double") / F.col("__wtot").cast("double")
    target = F.floor(
        weight * F.lit(float(token_budget))
    ).cast("bigint")
    rate = F.least(
        F.lit(1.0),
        F.col("token_target").cast("double")
        / F.col("n_tokens").cast("double"),
    )
    return (
        g.join(F.broadcast(total))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            weight.alias("mix_weight"),
            target.alias("token_target"),
        )
        .withColumn("sample_rate", rate)
        .orderBy(group_col)
    )


def temperature_sample_kept(
    documents: DataFrame,
    token_budget: int = 100_000,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """The kept rows of the end-to-end temperature rebalance (see
    temperature_sample_summary for the full contract): input columns plus
    ``sample_rate``; ``__thr`` is internal and dropped."""
    plan = temperature_mix_plan(documents, token_budget, group_col)
    thr = F.lpad(
        F.lower(
            F.hex(
                F.floor(
                    F.col("sample_rate") * F.lit(float(16**8))
                ).cast("bigint")
            )
        ),
        8,
        "0",
    )
    rates = F.broadcast(
        plan.select(group_col, "sample_rate", thr.alias("__thr"))
    )
    digest = F.substring(
        F.md5(
            F.concat(
                F.col(id_col).cast("string"), F.lit(":"), F.col(group_col)
            )
        ),
        1,
        8,
    )
    return (
        documents.join(rates, group_col)
        .where((F.col("sample_rate") >= 1.0) | (digest < F.col("__thr")))
        .drop("__thr")
    )


def temperature_sample_summary(
    documents: DataFrame,
    token_budget: int = 100_000,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """END-TO-END temperature rebalancing: the sqrt-temperature planner
    (temperature_mix_plan) drives the deterministic md5-threshold sampler
    (stratified_sample's keep rule), all inside one plan — no driver-side
    collect of the rates. Returns the per-group accounting of the kept
    set: (group, sample_rate, n_docs_kept, n_tokens_kept).

    Scale shape: the plan table is |groups| rows, broadcast to the corpus
    scan; the keep decision is a narrow per-row filter (md5 + string
    compare against the group's threshold) — so the whole rebalance is
    one broadcast join + one map-side-combined groupBy, at any corpus
    size. The md5 keep rule is content-keyed: the kept set is stable
    under corpus growth, repartitioning, and engine (exactly
    SQL-oracle-able; see stratified_sample).

    Threshold encoding: floor(rate * 16^8) rendered as 8 lowercase hex
    chars compared against the first 8 md5 hex chars. rate >= 1.0 must
    bypass the compare (its threshold needs 9 hex digits and lpad would
    truncate the most significant one).
    """
    kept = temperature_sample_kept(documents, token_budget, group_col, id_col)
    return (
        kept.groupBy(group_col, "sample_rate")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens_kept"),
        )
        .orderBy(group_col)
    )


def corpus_pipeline_stats(
    documents: DataFrame,
    token_budget: int = 50_000,
    min_words: int = 30,
    max_words: int = 90,
    max_dup_word_ratio: float = 0.75,
) -> DataFrame:
    """The whole preprocessing funnel as ONE lazy plan, with per-stage
    accounting: raw -> exact dedup (min-id representative per normalized
    md5) -> structural quality gate (word count + duplicate-word ratio)
    -> sqrt-temperature rebalance. Returns (stage_no, stage, n_docs,
    n_tokens) — the four-row funnel report every corpus build publishes.

    Each stage only narrows the previous one, so Catalyst pushes the
    dedup semi-join and the quality predicates into one scan pipeline;
    the only shuffles are the dedup fingerprint agg, the per-group token
    agg inside the temperature planner, and four tiny accounting aggs.
    All keep rules are content-keyed (md5) — rerunning on a grown corpus
    reproduces the same per-doc decisions.
    """
    from .dedup import exact_dedup

    tok = F.size(F.split(F.col("text"), " "))

    def acct(df: DataFrame, no: int, stage: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_docs"),
            F.sum(tok).cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(no).alias("stage_no"),
            F.lit(stage).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    keeps = exact_dedup(documents).select("keep_id")
    deduped = documents.join(
        keeps, documents["doc_id"] == keeps["keep_id"], "leftsemi"
    )
    nw = F.size(F.split(F.col("text"), " "))
    nd = F.size(F.array_distinct(F.split(F.col("text"), " ")))
    gated = deduped.where(
        (nw >= min_words)
        & (nw <= max_words)
        & ((nw - nd).cast("double") / nw <= max_dup_word_ratio)
    )
    sampled = temperature_sample_kept(gated, token_budget)
    return (
        acct(documents, 0, "raw")
        .unionByName(acct(deduped, 1, "dedup"))
        .unionByName(acct(gated, 2, "quality"))
        .unionByName(acct(sampled, 3, "sampled"))
        .orderBy("stage_no")
    )


def pack_sequences(
    documents: DataFrame,
    max_tokens: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid out in id
    order as one token stream and cut every ``max_tokens``; each doc
    reports the bin (chunk) its first token lands in and how many bins it
    spans.

    This is the streaming-concatenation packing used by LM data pipelines
    (docs may straddle a boundary; no padding waste). The global prefix
    sum is computed in TWO passes so no stage ever sees a partition-less
    window (which would collapse every row into one task): docs are range-
    sharded on id with boundaries collected once and baked in as literals;
    pass 1 is a per-shard cumsum window (shards run in parallel), pass 2
    prefix-sums the per-shard token totals over the tiny one-row-per-shard
    frame and broadcast-joins the offsets back. Output is identical to the
    single global window regardless of boundary placement, so it stays
    exactly cross-engine oracle-able.
    """
    spark = documents.sparkSession
    slim = documents.select(
        F.col(id_col), token_count_col(text_col).alias("n_tokens")
    )

    # shard boundaries: collected ONCE driver-side and baked into both
    # passes as constants (a lazy repartitionByRange could re-sample
    # different boundaries on recompute, silently mismatching the offsets)
    num_parts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    probs = [i / num_parts for i in range(1, num_parts)]
    bounds = (
        slim.select(F.col(id_col).cast("double").alias("__i"))
        .stat.approxQuantile("__i", probs, 0.01)
        if probs
        else []
    )
    pid_expr = F.lit(0)
    for b in sorted(set(float(x) for x in bounds)):
        pid_expr = pid_expr + (F.col(id_col).cast("double") > F.lit(b)).cast("int")
    parted = slim.withColumn("__pid", pid_expr)

    # pass 1: cumsum WITHIN each id-range shard (parallel, bounded tasks)
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))

    # pass 2: per-shard totals, prefix-scanned over <= num_parts rows,
    # broadcast back as the shard offset
    totals = parted.groupBy("__pid").agg(
        F.sum("n_tokens").cast("bigint").alias("__tot")
    )
    w_prev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__tot").over(w_prev), F.lit(0)).alias("__off"),
    )
    cum_before = F.col("__local") + F.col("__off")
    return (
        parted.withColumn("__local", local_before)
        .join(F.broadcast(offsets), "__pid")
        .withColumn("start_bin", F.floor(cum_before / max_tokens).cast("bigint"))
        .withColumn(
            "end_bin",
            F.floor((cum_before + F.col("n_tokens") - 1) / max_tokens).cast("bigint"),
        )
        .withColumn("n_bins", (F.col("end_bin") - F.col("start_bin") + 1).cast("int"))
        .select(id_col, "n_tokens", "start_bin", "end_bin", "n_bins")
        .orderBy(id_col)
    )


def pack_sequences_greedy(
    documents: DataFrame,
    max_tokens: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy whole-document bin packing, shard-parallel: docs are range-
    partitioned by id; within each shard a sequential pass opens a new bin
    whenever the current doc would overflow ``max_tokens`` (docs longer
    than the budget get a bin alone). Bin ids are globally unique as
    (shard << 32) | local_bin.

    Greedy packing is inherently sequential, so the parallel unit is the
    shard — exactly how production packers run (one packer per output
    shard). Deterministic given the id ordering; not SQL-expressible in
    one pass (rows-only check).
    """
    n_tok = token_count_col(text_col)
    slim = documents.select(F.col(id_col), n_tok.alias("n_tokens"))
    sharded = slim.repartitionByRange(F.col(id_col)).sortWithinPartitions(id_col)

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        shard = TaskContext.get().partitionId()
        local_bin, used = 0, 0
        for pdf in batches:
            bins = []
            for t in pdf["n_tokens"]:
                if used > 0 and used + t > max_tokens:
                    local_bin += 1
                    used = 0
                bins.append((shard << 32) | local_bin)
                used += int(t)
            out = pdf.copy()
            out["bin"] = bins
            yield out

    return sharded.mapInPandas(
        pack, schema=f"{id_col} long, n_tokens int, bin long"
    )


def sample_k_per_group(
    documents: DataFrame,
    k: int = 3,
    group_cols=("lang", "source"),
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic k-per-group reservoir: keep exactly min(k, |group|)
    documents per group, chosen by md5("<id>:k") hash order (id as final
    tie-break). The hash order is content-keyed, so the selection is a
    true uniform-without-replacement sample that never changes with
    partitioning, insert order, or engine — the reproducible alternative
    to RAND()-ordered LIMIT k.

    One shuffle on the group key; the per-group sort is bounded by the
    window's top-k (rank <= k prunes to a running k-heap per group under
    WindowGroupLimit) — scales to any number of groups.
    """
    tag = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{k}")))
    w = Window.partitionBy(*group_cols).orderBy(tag.asc(), F.col(id_col).asc())
    return (
        documents.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(*group_cols, id_col, F.col("_rn").alias("pick_rank"))
        .orderBy(*group_cols, "pick_rank")
    )


# weighted_sample's per-draw seed base — 2^32 · (golden ratio − 1),
# the Fibonacci-hashing constant: public, arbitrary, fixed; distinct
# from hashing's 0 / INTMIX_SEED2 so draws never collide with the
# sketch family's h1/h2 streams on the same key.
WSAMPLE_SEED = 2654435769

# Refusal bound for weighted_sample's cap: per-row work is O(min(weight,
# cap)) mixer rounds, so a cap past this is a config error (bucket
# heavy-tailed raw weights into [1, cap] instead — the priced-refusal
# convention: refuse loudly rather than run a pathological plan).
WSAMPLE_MAX_CAP = 1 << 20


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    cap: int = 8,
) -> DataFrame:
    """Deterministic weighted top-k sample WITHOUT replacement — the
    A-ES scheme (Efraimidis & Spirakis, IPL 2006: draw u_i ~ U(0,1),
    keep the k largest u_i^(1/w_i)) — in EXACT integer arithmetic.
    For INTEGER weights the A-ES priority law is distribution-identical
    to "max of w independent uniforms": P(max of w uniforms ≤ x) = x^w
    = P(u^(1/w) ≤ x). So priority_i = max_{r=1..w_i} int_mix(id,
    WSAMPLE_SEED + r) — plain BIGINT in both engines; the float-pow /
    ln cross-engine hazard (NEXT.md r13 #2) dissolves by reformulation
    instead of tolerance, and the selection is bit-reproducible and
    oracle-able like every other op in this module.

    Weights are COALESCEd (NULL → 1) then clamped to [1, cap],
    surfaced as ``w_eff`` so the clamp is visible in the output, not
    silent. The priority is array_max over chained transforms of
    sequence(1, w_eff), one mixer round each — a JVM higher-order
    function, per-row work O(w_eff) with NO row explosion and NO groupBy
    shuffle. cap > WSAMPLE_MAX_CAP (2^20) raises — bucket heavy-tailed
    raw weights into [1, cap] instead of paying 2^20 mixer rounds per
    row.

    Scale: top-k is orderBy(priority desc, id).limit(k) =
    TakeOrderedAndProject — per-partition running top-k, then a
    k·partitions driver merge. NO full shuffle, NO global sort
    (pinned): a weighted sample of 100 TB costs one scan.
    Output (id, weight, w_eff, priority), priority-desc / id-asc
    ordered; ids are assumed unique (the sample is keyed by id).
    """
    from .hashing import MINHASH_PRIME, PLANE_A, PLANE_C

    if k < 1:
        raise ValueError("k >= 1 required")
    if not (1 <= int(cap) <= WSAMPLE_MAX_CAP):
        raise ValueError(
            f"cap must be in [1, {WSAMPLE_MAX_CAP}] — per-row work is "
            "O(cap) mixer rounds; pre-bucket "
            "heavy-tailed weights instead of raising the cap further"
        )
    cap = int(cap)
    w_eff = F.greatest(
        F.least(F.coalesce(F.col(weight_col), F.lit(1)).cast("int"),
                F.lit(cap)),
        F.lit(1),
    )
    base = df.select(
        F.col(id_col),
        F.col(weight_col).alias("weight"),
        w_eff.alias("w_eff"),
    )
    # CHAINED transforms: int_mix_sql's text nests each round's operand h
    # three times — free under whole-stage codegen (subexpression
    # elimination), but higher-order-function lambdas run INTERPRETED,
    # where every textual occurrence re-evaluates. Binding each round to
    # its own transform makes h a lambda VARIABLE (evaluated once); the
    # arithmetic — base residue, affine round, two quadratic rounds mod p
    # — is int_mix's, in the same order, so every priority is
    # bit-identical to it (pinned by a pure-Python replay in tests).
    # Intermediates < 2^62 + 2^61 (seed ≤ 2^32 + 2^20).
    m_, a_, c_ = MINHASH_PRIME, PLANE_A, PLANE_C
    t0 = (
        f"transform(sequence(1, w_eff), r -> "
        f"((CAST({id_col} AS BIGINT) % {m_} + {m_} "
        f"+ ({WSAMPLE_SEED} + r)) % {m_}))"
    )
    t1 = f"transform({t0}, h -> ((h * {a_} + {c_}) % {m_}))"
    t2 = f"transform({t1}, h -> ((h * h + {a_} * h + {c_}) % {m_}))"
    t3 = f"transform({t2}, h -> ((h * h + {a_} * h + {c_}) % {m_}))"
    pri = F.expr(f"array_max({t3})")
    return (
        base.select(
            id_col, "weight", "w_eff", pri.cast("long").alias("priority")
        )
        .orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k)
    )


def quality_rebalance_plan(documents: DataFrame, n_tiles: int = 10) -> DataFrame:
    """Per-source quality-decile histogram — the rebalancing dashboard
    that drives "keep only the top-k quality deciles of each feed":
    documents are scored with the text_stats linear quality score, split
    into per-source ntile(n) deciles (deterministic: ordered by score
    with doc_id tie-break), and summarized as (source, decile, n_docs,
    sum_tokens).

    ntile over a per-source window is one shuffle on source; the score
    is computed inline in the scan projection (no self-join against
    text_stats). Integer outputs — exact cross-engine.
    """
    from .text import quality_score_col

    scored = documents.select(
        "doc_id", "source", "text", quality_score_col().alias("quality_score")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("decile", F.ntile(n_tiles).over(w))
        .groupBy("source", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("sum_tokens"),
        )
        .orderBy("source", "decile")
    )


def split_leakage_audit(
    documents: DataFrame,
    val_pct: int = 10,
    test_pct: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-contamination audit: how many exact-duplicate contents span
    two different splits — the leak that silently inflates eval numbers
    (a test doc whose twin sits in train is memorization, not
    generalization). Counts distinct leaking fingerprints per ordered
    split pair plus each split's total distinct contents.

    Plan: one fingerprint projection, distinct (split, fp), then an
    fp-keyed self-join whose per-key fan-out is bounded by the 3 splits
    — the source_overlap_matrix shape, linear in corpus size.
    """
    assigned = train_val_test_split(documents, val_pct, test_pct, id_col)
    from ..operators.dedup import normalized

    per_split = (
        assigned.select(
            "split", F.md5(normalized(text_col)).alias("__fp")
        )
        .distinct()
    )
    b = per_split.select(
        F.col("split").alias("split_b"), F.col("__fp").alias("__fp_b")
    )
    leaks = (
        per_split.join(
            b,
            (F.col("__fp") == F.col("__fp_b"))
            & (F.col("split") < F.col("split_b")),
        )
        .groupBy(F.col("split").alias("split_a"), F.col("split_b"))
        .agg(F.count("*").alias("n_leaked_contents"))
    )
    totals = per_split.groupBy(F.col("split").alias("split_a")).agg(
        F.count("*").alias("n_contents_a")
    )
    return (
        leaks.join(totals, "split_a")
        .select("split_a", "split_b", "n_leaked_contents", "n_contents_a")
        .orderBy("split_a", "split_b")
    )


def epoch_shuffle(
    documents: DataFrame,
    n_shards: int = 8,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-order shuffle: assign every document a
    (shard, pos) so that reading shards in order, each sorted by pos,
    yields a pseudo-random epoch order — the way a 100 TB corpus is
    actually shuffled (hash-bucket then sort WITHIN each bucket; a global
    orderBy over the corpus would be a full sort, the per-shard sort is
    an ordinary shuffle whose reducers sort locally). Varying ``epoch``
    re-keys the hash so every epoch gets an independent order while
    staying reproducible run-to-run and engine-to-engine.

    The order key is two LCG rounds mod the Mersenne prime 2^31-1 on
    (id + epoch·prime) — pure BIGINT arithmetic (intermediates < 2^62),
    JVM-side whole-stage-codegen in Spark and replayable verbatim in the
    DuckDB oracle. No RNG state, no rand(): content-keyed, so re-runs
    and incremental appends place unchanged ids at unchanged positions.
    """
    from .hashing import MINHASH_PRIME, PLANE_A, PLANE_C

    m = MINHASH_PRIME
    seed = f"({id_col} + {epoch} * 1000003)"
    h1 = f"(({PLANE_A} * {seed} + {PLANE_C}) % {m})"
    h = f"(({PLANE_A} * {h1} + {PLANE_C}) % {m})"
    keyed = documents.select(
        F.col(id_col),
        F.expr(h).alias("order_key"),
    ).withColumn("shard", (F.col("order_key") % n_shards).cast("int"))
    w = Window.partitionBy("shard").orderBy("order_key", id_col)
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .select("shard", "pos", id_col, "order_key")
        .orderBy("shard", "pos")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Dataset-version diff: classify every key as ``added`` (new only),
    ``removed`` (old only), ``changed`` (both, different content hash) or
    ``unchanged`` — the change-capture primitive behind incremental
    republish ("which training shards actually need rebuilding between
    snapshot t1 and t2") and feature-parity audits.

    Content identity is md5 over the compare columns (null-tagged so
    NULL vs 'null' don't collide). Scale shape: one hash-partition of
    each side on the key and a single co-partitioned full outer join —
    row volume |old ∪ new|, no corpus-wide sort; the verdict is a pure
    projection.
    """
    def tag(df: DataFrame, hash_name: str) -> DataFrame:
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null")).alias(c)
            for c in compare_cols
        ]
        return df.select(
            *key_cols,
            F.md5(F.concat_ws("\x01", *parts)).alias(hash_name),
        )

    o = tag(old, "old_hash")
    n = tag(new, "new_hash")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, key_cols, "full_outer")
        .select(*key_cols, "old_hash", "new_hash", status.alias("status"))
        .orderBy(*key_cols)
    )


def interleave_sources(
    documents: DataFrame,
    weights: Mapping[str, int] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted deterministic source interleaving — the training-order
    artifact of `interleave_datasets`: sources are consumed in a stride
    schedule so a weight-3 source contributes 3 examples for every 1 of
    a weight-1 source, evenly spread (not block-wise). Each document's
    schedule key is the classic stride virtual time
    ``vt_u = (2·rank+1)·1e6 // (2·weight)`` over its within-source rank;
    reading rows by (vt_u, source, id) IS the epoch order. Integer
    arithmetic end-to-end — the schedule replays exactly cross-engine.

    Unspecified sources default to weight ``(length(source) % 3) + 1``
    (a deterministic stand-in for a shipped weight table — wired so the
    gate exercises unequal strides at every sf).

    Scale shape: one source-keyed window for ranks (few heavy groups —
    same hot-key caveat as length_profile), then a projection; the
    output order is conveyed BY vt_u (a range-partition sort, never a
    single-task global row_number — cf. epoch_shuffle's shard trick).
    """
    # chained F.when, NOT f-string SQL: a source name containing a quote
    # must stay data, never become expression text.
    default_w = (F.length(F.col(group_col)) % 3 + 1).cast("long")
    if weights:
        w_col = None
        for s, w in weights.items():
            cond = F.col(group_col) == F.lit(s)
            w_col = (
                F.when(cond, F.lit(int(w)))
                if w_col is None
                else w_col.when(cond, F.lit(int(w)))
            )
        w_col = w_col.otherwise(default_w).cast("long")
    else:
        w_col = default_w
    rank_w = Window.partitionBy(group_col).orderBy(id_col)
    return (
        documents.select(id_col, group_col)
        .withColumn("src_rank", F.row_number().over(rank_w).cast("long") - 1)
        .withColumn("weight", w_col)
        .withColumn(
            "vt_u",
            F.expr("(2 * src_rank + 1) * 1000000 div (2 * weight)"),
        )
        .select(id_col, group_col, "src_rank", "weight", "vt_u")
        .orderBy("vt_u", group_col, id_col)
    )


def domain_reweight_by_loss(
    documents: DataFrame,
    step_ubits: int = 100_000,
    cap_levels: int = 6,
    group_col: str = "source",
) -> DataFrame:
    """Loss-driven domain mixture reweighting (DoReMi-style, Xie et al.
    2023, arXiv:2305.10429, collapsed to its deterministic core): domains
    whose text the corpus-level bigram LM finds HARD (high excess
    cross-entropy over the easiest domain) get exponentially more
    sampling weight — the "don't let easy boilerplate drown the hard
    domains" mixture optimizer, feeding directly into mix_sources /
    interleave_sources as the weight table.

    The multiplicative-weights exponential is made engine-portable by
    quantizing excess loss into integer LEVELS of ``step_ubits``
    micro-bits and weighting 2^level (a BIGINT shift — no exp()):
    weight_ppm(d) = 2^min((xent_d - min_d xent) div step, cap) · 1e6
    div Σ. Per-domain cross-entropy reuses bigram_cross_entropy's exact
    recipe (piecewise-linear log2, nano-bit floor-quantized terms) summed
    per domain instead of per doc — every emitted value is integer-exact
    cross-engine.

    Scale: the same two count tables as the per-doc op (unigram + bigram,
    both map-side combined), one join keyed on the bigram, one
    domain-keyed rollup; the min/total normalizers are #domains-row
    broadcasts. Nothing driver-side.
    """
    from ..plans.scratch import scratch_persist
    from .text import bigram_xent_terms

    # #domains rows, but its lineage is the whole bigram-LM pipeline
    # (two count tables + bigram-keyed join). The frame feeds FOUR
    # appearances in the final plan (floor_row, lev's join input, tot's
    # aggregate, the final join) and Spark does not CSE across them —
    # without the persist the LM pipeline executed 4x per run
    # (measured r14-opt: cur_budget_alloc ran 31 jobs / 60 stages).
    per_dom = scratch_persist(
        bigram_xent_terms(documents, {"domain": group_col})
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("xent_nbits").cast("long").alias("_q"),
        )
        .withColumn(
            "mean_xent_ubits",
            F.expr("_q div n_bigrams div 1000").cast("long"),
        )
    )
    floor_row = per_dom.agg(
        F.min("mean_xent_ubits").alias("__floor")
    )
    lev = (
        per_dom.join(F.broadcast(floor_row))
        .withColumn(
            "level",
            F.least(
                F.expr(f"(mean_xent_ubits - __floor) div {int(step_ubits)}"),
                F.lit(int(cap_levels)).cast("long"),
            ).cast("int"),
        )
        .withColumn("weight_raw", F.expr("CAST(1 AS BIGINT) << level"))
    )
    tot = lev.agg(F.sum("weight_raw").alias("__tot"))
    return (
        lev.join(F.broadcast(tot))
        .select(
            F.col("domain").alias(group_col),
            "n_bigrams",
            "mean_xent_ubits",
            "level",
            F.expr("weight_raw * 1000000 div __tot").cast("long").alias("weight_ppm"),
        )
        .orderBy(group_col)
    )


def budget_allocation(
    documents: DataFrame,
    budget_tokens: int = 1_000_000,
    step_ubits: int = 100_000,
    cap_levels: int = 6,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget allocator: turn the DoReMi-style mixture weights
    (domain_reweight_by_loss) into the concrete per-domain sampling plan
    a training run executes against a fixed token budget — target tokens
    per domain, the sampling rate vs what the domain actually HAS, and
    how many epochs (full passes) of the domain that implies.
    rate_ppm > 1e6 means the domain is upsampled (multiple epochs —
    DoReMi's hard domains); < 1e6 means it is subsampled. This is the
    table a data loader and a capacity planner both read: "to train on
    B tokens with these weights, domain d contributes T_d tokens at
    rate r_d over e_d epochs".

    Everything is BIGINT arithmetic on top of two aggregates: the
    reweight table (#domains rows) and a per-domain whitespace-token
    rollup — one extra corpus scan, map-side combined, broadcast-joined
    to the weights. epochs = ceil(target/avail) via (t + a - 1) div a.
    """
    weights = domain_reweight_by_loss(
        documents, step_ubits, cap_levels, group_col
    ).select(group_col, "weight_ppm")
    avail = (
        documents.groupBy(group_col)
        .agg(F.sum(token_count_col(text_col).cast("long")).alias("avail_tokens"))
    )
    b = int(budget_tokens)
    return (
        avail.join(F.broadcast(weights), group_col)
        .select(
            group_col,
            "avail_tokens",
            "weight_ppm",
            # two-term identity: budget * weight_ppm overflows BIGINT at
            # budget >= 9.2e12 tokens (a 100 TB budget IS ~2e13); here
            # the remainder term is bounded (r < 1e6, w <= 1e6), so no
            # DECIMAL needed — exact: q*w + floor(r*w/1e6), q,r =
            # divmod(budget, 1e6)
            F.expr(
                f"CAST({b // 1_000_000} AS BIGINT) * weight_ppm"
                f" + (CAST({b % 1_000_000} AS BIGINT) * weight_ppm)"
                " div 1000000"
            ).alias("target_tokens"),
        )
        .withColumn(
            # DECIMAL(38,0): target/avail are token totals — past the
            # BIGINT*1e6 bound at 100 TB, and the divmod remainder is
            # also token-scaled (see dedup inflation_ppm). Exact in
            # both engines (DuckDB: HUGEINT).
            "rate_ppm",
            F.expr(
                "CAST(CAST(target_tokens AS DECIMAL(38,0)) * 1000000"
                " div avail_tokens AS BIGINT)"
            ),
        )
        .withColumn(
            "epochs",
            F.expr("(target_tokens + avail_tokens - 1) div avail_tokens").cast(
                "int"
            ),
        )
        .withColumn("upsampled", F.col("rate_ppm") > 1_000_000)
        .orderBy(group_col)
    )


def dataset_card(documents: DataFrame) -> DataFrame:
    """Dataset-card rollup — the per-source / per-(source, lang) corpus
    summary a training run publishes alongside the data: doc counts,
    whitespace-token and character totals, and exact mean tokens/doc in
    ppm, at three grains in ONE pass (ROLLUP: (source, lang) →
    (source) → grand total). ``level`` is 0/1/2 for those grains;
    rolled-up group keys print as '<all>' so a genuinely-NULL source
    can never collide with a rollup row.

    Plan shape: Spark plans a rollup as a single Expand + one
    map-side-combined aggregation — one scan at 100 TB regardless of
    grain count, the same single-pass discipline as table_profile."""
    tok = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        token_count_col()
    )
    agg = (
        documents.select(
            "source", "lang", tok.cast("long").alias("__tok"), "n_chars"
        )
        .rollup("source", "lang")
        .agg(
            F.grouping("source").cast("int").alias("__gs"),
            F.grouping("lang").cast("int").alias("__gl"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__tok").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    return (
        agg.select(
            (F.col("__gs") + F.col("__gl")).cast("int").alias("level"),
            F.when(F.col("__gs") == 1, F.lit("<all>"))
            .otherwise(F.col("source"))
            .alias("source"),
            F.when(F.col("__gl") == 1, F.lit("<all>"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            "n_docs",
            "n_tokens",
            "sum_chars",
            # two-term divmod identity (repo convention since r07's
            # imbalance_ppm lesson): n_tokens*1e6 overflows BIGINT past
            # ~9.2e12 tokens — the grand-total row of a 100 TB corpus
            # plausibly exceeds that, and Spark wraps silently where
            # DuckDB errors, so the engines would also diverge.
            F.expr(
                "(n_tokens div n_docs) * 1000000"
                " + ((n_tokens % n_docs) * 1000000) div n_docs"
            ).cast("long").alias("avg_tokens_ppm"),
        )
        # NULL group keys order NULLS FIRST in Spark but NULLS LAST in
        # DuckDB — pin asc_nulls_last on both sides so a genuinely-NULL
        # source/lang (distinct from '<all>' by design) cannot flip the
        # gate's row order.
        .orderBy(
            "level",
            F.col("source").asc_nulls_last(),
            F.col("lang").asc_nulls_last(),
        )
    )


def pipeline_card(
    documents: DataFrame,
    benchmark: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    min_agree: int = 32,
    shingle_n: int = 4,
    max_tokens: int = 2048,
) -> DataFrame:
    """End-to-end curation-pipeline card: the full training-data chain —
    row-contract gate → exact dedup → banded-MinHash near-dedup →
    benchmark decontamination → sequence packing — as ONE lazy plan
    emitting a row per stage with its in/out/dropped doc counts
    (``n_out`` for the pack stage is the number of ``max_tokens``
    chunks the survivors concat-pack into, = ceil(Σ tokens /
    max_tokens), the exact ``pack_sequences`` bin count).

    This is the composition contract the individual operators are built
    for, registered as one oracle-gated query so a regression in any
    stage's *interaction* (e.g. near-dedup seeing docs exact-dedup
    should have removed) surfaces even when each op is green alone.

    Plan shape: NO driver-side collect — each stage count is a 1-row
    aggregate attached by broadcast cross join (the reviewed tiny-frame
    cartesian pattern), so the whole five-stage execution is one
    inspectable plan (the plan gate fingerprints the real stages, not a
    literal result frame) and one job. Stage chaining is by slim id
    frames (anti/semi joins); each survivor frame is scratch-persisted,
    so the two aggregates that read it (its own n_out and the next
    stage's n_in) share one computation. The near-dup threshold
    compares an INTEGER agreement count (round(est·n_hashes) recovers
    it exactly; comparing est_jaccard·n_hashes raw flips at
    exactly-threshold agreement for non-power-of-two n_hashes). The
    fixed default shape (bands=16, r=4) is the 500k-doc-validated one —
    ``dedup.minhash_band_balance`` is the planner that picks it when
    the corpus changes.

    Scale shape: five sequential stages, each a linear pass or an
    id-keyed shuffle; the only super-linear hazard is the LSH bucket
    self-join, which the (b, r) shape bounds — exactly what the
    balance prepass prices.
    """
    from pyspark import StorageLevel

    from ..plans.scratch import scratch_persist
    from . import dedup

    if n_hashes % bands != 0:
        raise ValueError("pipeline_card: bands must divide n_hashes")

    def persist(df: DataFrame) -> DataFrame:
        return scratch_persist(df, StorageLevel.MEMORY_AND_DISK)

    # 1. gate: the row-level contract (text present) — the cheap filter
    # that keeps every later stage from paying for unusable rows
    s0 = persist(documents.where(F.col("text").isNotNull()))

    # 2. exact dedup: keep the min-id member of each normalized-text
    # fingerprint group
    keep1 = (
        s0.select("doc_id", F.md5(dedup.normalized()).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = persist(s0.join(keep1, "doc_id", "left_semi"))

    # 3. near-dedup: banded MinHash candidates; a doc is dropped when it
    # is the HIGHER id of a pair agreeing on >= min_agree of the
    # n_hashes signature positions
    pairs = dedup.minhash_lsh_pairs(s1, n_hashes, bands)
    agree = F.round(F.col("est_jaccard") * F.lit(n_hashes)).cast("int")
    drop2 = (
        pairs.where(agree >= F.lit(int(min_agree)))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s2 = persist(s1.join(drop2, "doc_id", "left_anti"))

    # 4. decontaminate: drop survivors sharing any word shingle_n-gram
    # with the benchmark corpus (broadcast semi-join under AQE)
    contaminated = dedup.decontaminate(s2, benchmark, shingle_n).select(
        "doc_id"
    )
    s3 = persist(s2.join(contaminated, "doc_id", "left_anti"))

    # one 1-row frame with every count (+ the survivor token total for
    # the pack bin arithmetic), assembled by broadcast cross joins.
    # The frame is scratch-persisted below: Spark does NOT CSE across
    # union branches, so the five stage rows would otherwise each
    # re-evaluate this subtree — in particular re-scanning the
    # UN-persisted `documents` input ~5x just for `nc` (ADVICE r10).
    # Persisting the 1-row result makes every branch a cache read.
    counts = (
        documents.agg(F.count("*").cast("long").alias("nc"))
        .crossJoin(
            F.broadcast(s0.agg(F.count("*").cast("long").alias("n0")))
        )
        .crossJoin(
            F.broadcast(s1.agg(F.count("*").cast("long").alias("n1")))
        )
        .crossJoin(
            F.broadcast(s2.agg(F.count("*").cast("long").alias("n2")))
        )
        .crossJoin(
            F.broadcast(
                s3.agg(
                    F.count("*").cast("long").alias("n3"),
                    F.coalesce(
                        F.sum(token_count_col().cast("long")), F.lit(0)
                    ).alias("tok"),
                )
            )
        )
    )
    counts = persist(counts)
    # ONE reference to the counts frame, exploded into the five stage
    # rows (r14 optimization round): the previous shape unioned five
    # SELECTs over `counts`, and although execution read the persisted
    # 1-row frame five times cheaply, the ANALYZED plan replicated the
    # whole five-stage lineage per union branch — a ~3.5 MB plan whose
    # analysis + cache lookup dominated the query wall time
    # (best-of-3 rep with fully warm caches: 6.9s wall, 0.02s of stage
    # time — pure driver). Same rows, same single-job execution, ~5x
    # smaller plan (guide §3.3: very wide unions make planning itself
    # the bottleneck).
    # the stage-row struct array is emitted as ONE SQL text (r15 opt,
    # the _band_fold pattern): the Column-API form cost ~30 chatty
    # builder calls (~6 Py4J round-trips each, eager JVM analysis per
    # Dataset) for what parses to a node-identical literal-struct tree
    def _srow(stage: int, name: str, c_in: str, c_out: str) -> str:
        return (
            f"named_struct('stage', {stage}, 'name', '{name}', "
            f"'n_in', CAST({c_in} AS BIGINT), "
            f"'n_out', CAST({c_out} AS BIGINT), "
            f"'n_dropped', CAST({c_in} - {c_out} AS BIGINT))"
        )

    pack_out = f"(tok + {int(max_tokens) - 1}) div {int(max_tokens)}"
    rows_sql = ", ".join(
        [
            _srow(0, "gate", "nc", "n0"),
            _srow(1, "exact_dedup", "n0", "n1"),
            _srow(2, "lsh_neardedup", "n1", "n2"),
            _srow(3, "decontaminate", "n2", "n3"),
            (
                "named_struct('stage', 4, 'name', 'pack', "
                "'n_in', CAST(n3 AS BIGINT), "
                f"'n_out', CAST({pack_out} AS BIGINT), "
                "'n_dropped', CAST(0 AS BIGINT))"
            ),
        ]
    )
    return (
        counts.select(F.expr(f"explode(array({rows_sql}))").alias("r"))
        .select("r.stage", "r.name", "r.n_in", "r.n_out", "r.n_dropped")
        .orderBy("stage")
    )


def ccnet_bucket(documents: DataFrame, group_col: str = "source") -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019,
    arXiv:1911.00359, collapsed to its deterministic core): score every
    doc by its cross-entropy under the corpus bigram LM, then split each
    domain into head / middle / tail TERCILES of that score — the
    standard "keep the head, inspect the middle, drop the tail" triage
    a web-scale corpus goes through before training. Emits the rollup a
    curation dashboard reads: (group, bucket, n_docs, lo/hi xent µbits).

    Engine-exact recipe: per-doc mean xent in integer µbits (the
    piecewise-linear log2 + nano-bit floor sum shared with
    domain_reweight_by_loss, divided doc-side: _q div n_bigrams div
    1000); tercile assignment by per-group row_number r over
    (xent, doc_id) — bucket = head iff 3r <= n, middle iff 3r <= 2n,
    else tail — pure integer comparisons, no ntile tie ambiguity.
    Docs with < 2 tokens have no bigrams and are excluded (they carry
    no LM evidence; route them through doc_quality_rules instead).

    Scale: the two LM count tables are map-side-combined aggregates;
    the per-doc score is one bigram-keyed join + doc-keyed rollup; the
    rank window partitions by group (never global). At 100 TB the
    window's per-group sort is the cost — CCNet itself shards this by
    language for the same reason; group_col is that shard key.
    """
    from pyspark.sql import Window

    from .text import bigram_xent_terms

    per_doc = (
        bigram_xent_terms(documents, {"doc_id": "doc_id", "grp": group_col})
        .groupBy("grp", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("xent_nbits").alias("_q"),
        )
        .withColumn(
            "xent_ubits",
            F.expr("_q div n_bigrams div 1000").cast("long"),
        )
    )
    w = Window.partitionBy("grp").orderBy("xent_ubits", "doc_id")
    # r is LONG before the x3: row_number() is INT32 and a web-scale
    # group crosses 2^31/3 docs — the tercile compare must not wrap
    ranked = per_doc.withColumn(
        "r", F.row_number().over(w).cast("long")
    ).withColumn("n", F.count("*").over(Window.partitionBy("grp")))
    bucket = (
        F.when(F.col("r") * 3 <= F.col("n"), F.lit("head"))
        .when(F.col("r") * 3 <= F.col("n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy(F.col("grp").alias(group_col), "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("xent_ubits").alias("lo_ubits"),
            F.max("xent_ubits").alias("hi_ubits"),
        )
        .orderBy(F.asc_nulls_last(group_col), "bucket")
    )


def _funnel_flags(
    documents: DataFrame,
    prior_fps: DataFrame | None = None,
    prior_buckets: DataFrame | None = None,
    n_hashes: int = 64,
    bands: int = 32,
    ngram: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Per-doc curation-funnel flags versus (prior state ∪ lower-id docs
    in this frame) — the shared kernel behind ``curation_funnel_flags``
    (prior state = None) and streaming.CurationFunnelMonitor (prior
    state = the accumulated fingerprint / bucket tables), so the
    stream==batch contract is structural, the Scd2Monitor/_user_runs
    pattern.

    Stages, strictly nested (pipeline_card's chain, flag form):
    - ``gated``: the row contract (text present);
    - ``exact_new``: gated AND first claimant of the normalized-text
      md5 fingerprint — not in ``prior_fps`` and the min doc_id of its
      fingerprint group within this frame (under the monitor's
      id-ordered arrival contract, "first batch to see fp" == "min id
      overall", which is what makes stream == batch);
    - ``near_new``: exact_new AND no MinHash band bucket claimed by an
      EARLIER exact_new survivor (in ``prior_buckets`` or a lower id
      in this frame) — dedup_against_index collision semantics; docs
      with < ngram words have no signature, hence no buckets, hence
      are vacuously near_new (mirrors minhash_lsh_pairs' population).

    The bucket index accumulates at the exact-dedup-survivor level,
    exactly where pipeline_card feeds its near-dedup stage.

    Scale: one fingerprint window partitioned by fp, one bucket window
    partitioned by (band, bh), two semi/left joins against the prior
    state — nothing global; state (distinct fps, distinct buckets) is
    content-sized, never corpus-pass-sized.
    """
    from . import dedup

    docs = documents.select("doc_id", "text")
    gated = docs.where(F.col("text").isNotNull())
    fps = gated.select(
        "doc_id", "text", F.md5(dedup.normalized()).alias("__fp")
    )
    w_fp = Window.partitionBy("__fp").orderBy("doc_id")
    fps = fps.withColumn(
        "__first_here", F.row_number().over(w_fp) == 1
    )
    if prior_fps is not None:
        pf = prior_fps.select(F.col("fp").alias("__fp")).distinct()
        fps = fps.join(
            pf.withColumn("__seen", F.lit(True)), "__fp", "left"
        ).withColumn(
            "exact_new",
            F.col("__first_here") & F.col("__seen").isNull(),
        )
    else:
        fps = fps.withColumn("exact_new", F.col("__first_here"))
    from ..plans.scratch import scratch_persist

    # read 3x below (survivor buckets, flags join, state additions)
    fps = scratch_persist(
        fps.select("doc_id", "text", "__fp", "exact_new")
    )
    survivors = fps.where(F.col("exact_new")).select("doc_id", "text")
    buckets = dedup._band_buckets(
        dedup.minhash_signatures(survivors, n_hashes, ngram), n_hashes,
        bands, "doc_id",
    )
    w_b = Window.partitionBy("band", "bh")
    buckets = buckets.withColumn(
        "__min_here", F.min("doc_id").over(w_b)
    )
    if prior_buckets is not None:
        pb = prior_buckets.select("band", "bh").distinct().withColumn(
            "__claimed", F.lit(True)
        )
        buckets = buckets.join(pb, ["band", "bh"], "left")
        collided = F.col("__claimed").isNotNull() | (
            F.col("__min_here") < F.col("doc_id")
        )
        fresh_bucket = F.col("__claimed").isNull()
    else:
        collided = F.col("__min_here") < F.col("doc_id")
        fresh_bucket = F.lit(True)
    # read twice below (candidate flags + state additions)
    buckets = scratch_persist(buckets.withColumn("__cand0", collided)
                              .withColumn("__fresh", fresh_bucket))
    cand = (
        buckets.where(F.col("__cand0")).select("doc_id").distinct()
        .withColumn("__cand", F.lit(True))
    )
    flags = (
        fps.join(cand, "doc_id", "left")
        .select(
            "doc_id",
            F.col("exact_new"),
            (F.col("exact_new") & F.col("__cand").isNull()).alias(
                "near_new"
            ),
        )
    )
    out = (
        docs.select("doc_id", F.col("text").isNotNull().alias("gated"))
        .join(flags, "doc_id", "left")
        .select(
            "doc_id",
            "gated",
            F.coalesce("exact_new", F.lit(False)).alias("exact_new"),
            F.coalesce("near_new", F.lit(False)).alias("near_new"),
        )
    )
    # state additions (disjoint from prior state by construction):
    # exact_new fps are one-per-group; fresh buckets exclude claimed
    new_fps = fps.where(F.col("exact_new")).select(
        F.col("__fp").alias("fp")
    )
    new_buckets = (
        buckets.where(F.col("__fresh")).select("band", "bh").distinct()
    )
    return out, new_fps, new_buckets


def curation_funnel_flags(
    documents: DataFrame,
    n_hashes: int = 64,
    bands: int = 32,
    ngram: int = 3,
) -> DataFrame:
    """Batch curation-funnel flags: per-doc (gated, exact_new,
    near_new) where "earlier" means lower doc_id — the one-shot twin of
    streaming.CurationFunnelMonitor under its id-ordered arrival
    contract (stream==batch pinned in tests/test_round11.py). See
    ``_funnel_flags`` for stage semantics."""
    flags, _, _ = _funnel_flags(
        documents, None, None, n_hashes, bands, ngram
    )
    return flags.orderBy("doc_id")

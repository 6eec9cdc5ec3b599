"""Text-analysis operators for large-scale training-data pipelines.

All pure `pyspark.sql.functions` column algebra (JVM-side, codegen'd) — designed to
run over a 100 TB `documents` table with zero Python in the row path. Each operator
has a matching ANSI-SQL oracle in __spark_entry__.py so DuckDB can verify it.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword anchors for the n-gram language heuristic.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " in "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " la ", " les ", " et ", " est "],
    "es": [" el ", " la ", " que ", " de ", " los "],
}

_STOPWORDS_EN = [
    "the", "and", "of", "to", "in", "a", "is", "that", "it", "for",
    "on", "was", "with", "as", "are", "be", "this", "at", "by", "an",
]


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/null."""
    t = F.trim(F.coalesce(col, F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-approximate token count: word-ish pieces + digits + punctuation runs.

    Regex mirrors the GPT-2 pre-tokenizer shape (contractions | letter runs |
    digit runs | punctuation runs) — a cheap, deterministic token estimator.
    """
    pieces = F.regexp_extract_all(
        F.coalesce(col, F.lit("")),
        F.lit(r"('s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+)"),
        1,
    )
    return F.size(pieces).cast("long")


def punct_ratio(col: Column) -> Column:
    c = F.coalesce(col, F.lit(""))
    total = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are (lowercased) English stopwords."""
    toks = F.split(F.lower(F.trim(F.coalesce(col, F.lit("")))), r"\s+")
    n = F.size(toks)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS_EN])
    hits_full = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(F.array_contains(sw, t), 1).otherwise(0),
    )
    return F.when(n > 0, hits_full.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0,1]:
    length band + moderate punctuation + stopword presence (fluency proxy)."""
    n_chars = F.length(F.coalesce(col, F.lit("")))
    len_ok = F.when((n_chars >= 200) & (n_chars <= 20000), F.lit(1.0)).otherwise(
        F.when(n_chars > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    p = punct_ratio(col)
    punct_ok = F.when((p >= 0.005) & (p <= 0.2), F.lit(1.0)).otherwise(F.lit(0.5))
    s = stopword_ratio(col)
    sw_ok = F.when(s >= 0.1, F.lit(1.0)).otherwise(F.when(s > 0, F.lit(0.5)).otherwise(F.lit(0.0)))
    return ((len_ok + punct_ok + sw_ok) / 3.0).alias("quality")


def language_guess(col: Column) -> Column:
    """Marker-based language ID over {en,de,fr,es}, 'unk' when nothing matches.

    Counts language-specific function-word occurrences (padded, lowercased) and
    picks the max — the classic n-gram/stopword heuristic at trivial cost.
    """
    padded = F.concat(F.lit(" "), F.lower(F.coalesce(col, F.lit(""))), F.lit(" "))

    def score(lang: str) -> Column:
        s = F.lit(0)
        for m in _LANG_MARKERS[lang]:
            # occurrence count via length delta
            s = s + (
                (F.length(padded) - F.length(F.regexp_replace(padded, m.strip(), "")))
                / len(m.strip())
            ).cast("int")
        return s

    scores = F.array(*[
        F.struct(score(lang).alias("s"), F.lit(lang).alias("l"))
        for lang in _LANG_MARKERS
    ])
    best = F.array_max(scores)
    return F.when(best.getField("s") > 0, best.getField("l")).otherwise(F.lit("unk"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: xxhash64 of punctuation/whitespace-normalized text —
    a rolling-hash-style identity robust to formatting noise."""
    norm = F.regexp_replace(
        F.lower(F.regexp_replace(F.coalesce(col, F.lit("")), r"[^A-Za-z0-9]+", " ")),
        r"\s+",
        " ",
    )
    return F.xxhash64(F.trim(norm))


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection over a documents table."""
    c = F.col(text_col)
    return docs.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        punct_ratio(c).alias("punct_ratio"),
        stopword_ratio(c).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        language_guess(c).alias("lang_guess"),
        fingerprint(c).alias("fingerprint"),
    )


def pack_shards(
    docs: DataFrame,
    *,
    tokens_per_shard: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int | None = None,
) -> DataFrame:
    """Assign documents to ~``tokens_per_shard`` training shards by token
    offset: ``shard_id = running_token_offset // tokens_per_shard`` where the
    running offset is the total tokens of all docs with a smaller ``id_col``
    (the streaming-pack rule every sharded-corpus writer uses — deterministic,
    order-stable, every shard within one doc of the budget).

    Scale note — this is a GLOBAL prefix sum, and the naive
    ``Window.orderBy(id)`` with no partition key compiles to ``Exchange
    SinglePartition``: the whole table through one task. Instead, the
    textbook two-pass distributed scan:

    1. range-partition the slim ``(id, n_tokens)`` projection by id and
       freeze it (``localCheckpoint`` — the range sampler must not re-draw
       boundaries between the two passes; swap ``checkpoint`` in on a real
       cluster);
    2. local cumulative sums per partition (window PARTITION BY the physical
       partition id — all partitions in parallel);
    3. one bounded collect of ``n_partitions`` partial totals -> broadcast
       base-offset map added back per row.

    Per-row cost is one slim shuffle + one map lookup regardless of table
    size; the only driver state is one row per partition.
    """
    from pyspark.sql import Window

    n_tok = token_count(F.col(text_col)).alias("n_tokens")
    base = docs.select(F.col(id_col), n_tok)
    parts = partitions or base.sparkSession.sparkContext.defaultParallelism
    ranged = (
        base.repartitionByRange(parts, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # freeze sampled range boundaries across both passes
    )
    w = Window.partitionBy("_pid").orderBy(id_col)
    local = ranged.withColumn(
        "_local_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    totals = sorted(
        ranged.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect(),
        key=lambda r: r["_pid"],
    )
    bases: dict[int, int] = {}
    run = 0
    for r in totals:
        bases[r["_pid"]] = run
        run += int(r["t"] or 0)
    base_map = F.create_map(
        *[F.lit(x) for pid, off in bases.items() for x in (pid, off)]
    )
    offset = F.col("_local_off") + F.coalesce(
        base_map[F.col("_pid")], F.lit(0)
    )
    return local.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.floor(offset / F.lit(tokens_per_shard)).cast("long").alias("shard_id"),
    )


def repetition_stats(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher", table A1 repetition filters): duplicate-word mass and the most
    frequent word / word-2-gram with its occurrence count. Downstream filters
    threshold on e.g. ``top_2gram_n * len(top_2gram) / n_chars`` — the stats
    here are exact integers so the oracle comparison is drift-free, and the
    caller picks the (float) threshold.

    Plan shape at 100 TB: two map-side-combining groupBys keyed
    ``(doc, token)`` (never a per-doc collect), a per-doc window over the
    tiny ``(doc, token, count)`` aggregate, and one join back on ``doc`` —
    every shuffle carries counts, not text. Ties on the top token break
    deterministically (count DESC, token ASC).
    """
    from pyspark.sql import Window

    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    w = F.split(t, " ")
    base = docs.select(
        F.col(id_col),
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct_words"),
        w.alias("_ws"),
    )
    # words and 2-grams explode from the same slim projection; the 2-gram
    # build is a zip of the array with itself shifted by one (pure codegen)
    grams = F.zip_with(
        F.slice(F.col("_ws"), 1, F.size(F.col("_ws")) - 1),
        F.slice(F.col("_ws"), 2, F.size(F.col("_ws")) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )

    def top(tokens: Column, prefix: str) -> DataFrame:
        win = Window.partitionBy(id_col).orderBy(
            F.desc("c"), F.asc("tok")
        )
        return (
            base.select(id_col, F.explode(tokens).alias("tok"))
            .groupBy(id_col, "tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select(
                id_col,
                F.col("tok").alias(f"top_{prefix}"),
                F.col("c").alias(f"top_{prefix}_n"),
            )
        )

    out = (
        base.drop("_ws")
        .join(top(F.col("_ws"), "word"), id_col)
        .join(top(grams, "2gram"), id_col, "left")
    )
    return out.select(
        id_col,
        "n_words",
        "n_distinct_words",
        "top_word",
        "top_word_n",
        F.coalesce(F.col("top_2gram"), F.lit("")).alias("top_2gram"),
        F.coalesce(F.col("top_2gram_n"), F.lit(0)).cast("long").alias("top_2gram_n"),
    )


# Java-regex / RE2 common-subset patterns (no backrefs, no lookaround) so the
# DuckDB oracle applies the IDENTICAL expressions.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d{1,3}[- ]\d{3,4}[- ]?\d{4}"


def scrub_pii(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII redaction for training corpora: replace email addresses and
    phone-shaped numbers with ``<EMAIL>`` / ``<PHONE>`` tokens and count the
    redactions (the scrub every public corpus pipeline applies before
    training; e.g. the C4 / ROOTS preprocessing steps).

    Pure ``regexp_replace`` / ``regexp_extract_all`` column algebra — stays
    in whole-stage codegen, no Python in the row path, embarrassingly
    parallel (no shuffle at all). Emails are scrubbed first; phones are
    counted on the email-scrubbed text so digit runs inside addresses are
    never double-counted.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    no_email = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(no_email, PII_PHONE_RE, "<PHONE>").alias("text_clean"),
    )


def hash_sample(
    docs: DataFrame,
    *,
    rate_ppm: int,
    id_col: str = "doc_id",
    salt: str = "dbz",
) -> DataFrame:
    """Deterministic corpus sampling: keep a document iff the first 15 hex
    chars of ``md5(salt || ':' || id)`` (a uniform 60-bit integer) fall below
    ``rate_ppm`` parts-per-million — the hash-mod sampling every corpus
    pipeline uses instead of random(): reproducible across runs, stable under
    re-partitioning, and joinable (the same doc is in-sample in every derived
    dataset). Pure codegen'd filter: no shuffle, no RNG state, prunes at the
    scan when id ordering correlates with storage. md5 (not xxhash64) so the
    DuckDB oracle applies the identical expression (dedup._h64, the shared
    oracle-portable hash)."""
    from debezium_spark.functions.dedup import _h64

    bucket = F.pmod(
        _h64(F.col(id_col).cast("string"), salt), F.lit(1_000_000)
    )
    return docs.where(bucket < F.lit(int(rate_ppm))).withColumn(
        "sample_bucket", bucket.cast("long")
    )


def classifier_score(
    docs: DataFrame,
    text_col: str = "text",
    *,
    weights: dict[str, float] | None = None,
    bias: float = 0.0,
    out_col: str = "lm_quality",
) -> DataFrame:
    """fastText-style linear quality classifier: ``sigmoid(bias + mean
    token weight)`` — the shape of every production "quality filter" pass
    over a pretraining corpus (CCNet/GPT-3-style linear scorers).

    Two weight sources:

    * ``weights`` dict (a trained model's vocabulary) — compiled into a map
      LITERAL, so the lookup is a JVM constant inside codegen: the broadcast
      is free (ships with the plan), no join, no shuffle. Out-of-vocabulary
      tokens weigh 0, like fastText's pruned vocab.
    * ``weights=None`` — a deterministic hash-derived weight in [-1, 1]
      (md5-based, the shared oracle-portable hash) standing in for a model
      the container can't train; the plumbing (tokenize → weigh → aggregate
      → squash) is the real distributed path either way.

    Wholly per-row via higher-order array functions — ZERO shuffles, scales
    linearly, and the aggregation is an exact INTEGER sum (order-independent,
    so Spark's array fold and an oracle's row sum agree bit-for-bit; the
    single float division + sigmoid happen once per doc). Score is null for
    token-less docs and rounded to 9 decimals for cross-engine comparability.
    """
    from debezium_spark.functions.dedup import _h64

    t = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    tokens = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    if weights is None:
        # integer milli-weights in [-1000, 1000]
        def w(tok: Column) -> Column:
            return F.pmod(_h64(tok, "w"), F.lit(2001)) - F.lit(1000)
    else:
        items: list[Column] = []
        for k, v in sorted(weights.items()):
            items += [F.lit(k), F.lit(int(round(float(v) * 1000)))]
        wmap = F.create_map(*items)

        def w(tok: Column) -> Column:
            return F.coalesce(wmap[tok], F.lit(0)).cast("long")

    total = F.aggregate(tokens, F.lit(0).cast("long"), lambda acc, x: acc + w(x))
    n = F.size(tokens)
    mean = total.cast("double") / (F.lit(1000.0) * n)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + mean)))
    return docs.withColumn(
        out_col,
        F.when(n > 0, F.round(score, 9)).otherwise(F.lit(None).cast("double")),
    )


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    k: int,
    *,
    id_col: str = "doc_id",
    salt: str = "strat",
    margin: int = 8,
    prefilter: bool = True,
) -> DataFrame:
    """Exact per-stratum sampling: the k rows with the smallest salted hash
    in every stratum (all rows when a stratum has fewer than k). The hash
    order makes the sample deterministic, reproducible across runs and
    engines, and JOINABLE — the same doc is in-sample for every derived
    dataset, like :func:`hash_sample`, but with per-language / per-domain
    quotas (the standard corpus-mixing primitive).

    Scale path: the naive plan is one window per stratum — a shuffle by
    ``stratum_col`` followed by an in-partition SORT OF THE WHOLE STRATUM,
    which a skewed stratum (say, 80%-English) turns into one task sorting
    10^10 rows. Instead, pass 1 computes per-stratum counts (map-side
    combined, one tiny result row per stratum — strata are languages or
    domains, bounded cardinality by construction) and derives a hash
    threshold ``~margin * k / count`` per stratum; the window then ranks only
    the pre-filtered survivors (expected ``margin * k`` rows per stratum, a
    codegen'd scan-side filter). Undershoot is detected per stratum and
    repaired with an unfiltered rescan of just the deficient strata — with
    md5-uniform hashes and margin=8 that is a ~never path, but correctness
    never rests on the margin. Returns the input columns plus
    ``sample_rank`` (1..k within stratum).

    Rows with a NULL stratum are excluded up front (documented behavior: a
    null language/domain is unlabeled, not a stratum) — they would otherwise
    poison the threshold map (Spark forbids NULL map keys) and could never
    be addressed by the isin() repair path.
    """
    from pyspark.sql import Window

    from debezium_spark.functions.dedup import _h64

    docs = docs.where(F.col(stratum_col).isNotNull())
    h = _h64(F.col(id_col).cast("string"), salt).alias("_strat_h")
    hashed = docs.select("*", h)
    win = Window.partitionBy(stratum_col).orderBy("_strat_h", id_col)

    def ranked(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("sample_rank", F.row_number().over(win))
            .where(F.col("sample_rank") <= F.lit(int(k)))
        )

    if not prefilter:
        return ranked(hashed).drop("_strat_h")

    counts = {
        r["s"]: r["n"]
        for r in docs.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    space = 1 << 60  # _h64 range
    thresholds: list[Column] = []
    for s, n in sorted(counts.items(), key=lambda kv: str(kv[0])):
        cap = space if n <= k * margin else int(space * (k * margin) / n) + 1
        thresholds += [F.lit(s), F.lit(cap)]
    tmap = F.create_map(*thresholds)
    survivors = ranked(hashed.where(F.col("_strat_h") < tmap[F.col(stratum_col)]))

    got = {
        r["s"]: r["n"]
        for r in survivors.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    deficient = [
        s for s, n in counts.items() if got.get(s, 0) < min(int(k), n)
    ]
    if deficient:
        # repair path: exact rescan of only the deficient strata
        repaired = ranked(hashed.where(F.col(stratum_col).isin(deficient)))
        survivors = survivors.where(
            ~F.col(stratum_col).isin(deficient)
        ).unionByName(repaired)
    return survivors.drop("_strat_h")


def mix_sources(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic dataset mixing with fractional per-source epoch weights —
    the sampling step every multi-source training pipeline runs (e.g. the
    GPT-3 / Pile data-mixing tables: "Wikipedia x 3.4 epochs, CommonCrawl x
    0.44"). A source with weight ``w`` contributes ``floor(w)`` full copies of
    every document plus one extra copy of the deterministic ``frac(w)``
    fraction of its documents; weight 0 (or an unlisted source) drops the
    source entirely.

    Replication is ``explode(sequence(0, n_copies-1))`` — pure codegen'd
    row expansion, no shuffle, no RNG state — and the fractional membership is
    the shared portable hash (``dedup._h64`` mod 1e6 < round(frac*1e6)``), so
    the same document is in-sample in every derived dataset, the output is
    stable under re-partitioning, and the DuckDB oracle reproduces it exactly.
    Fractions quantize to parts-per-million (an exact integer threshold —
    float equality at the boundary is never consulted).

    Output: one row per (document, ``epoch_col``) copy, epochs numbered
    0..n_copies-1. Downstream shuffles (shard packing, global shuffle for
    training order) key on (id, epoch) so copies spread across partitions.

    Scale: weights ship in the plan as a literal map (bounded: one entry per
    source NAME, not per row); the filter + explode pipeline is one scan with
    predicate pushdown on ``source_col`` when only some sources have weight.
    """
    from debezium_spark.functions.dedup import _h64

    if not weights:
        raise ValueError("weights must name at least one source")
    full, frac_ppm = {}, {}
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for source {s!r}: {w}")
        full[s] = int(w)
        frac_ppm[s] = int(round((w - int(w)) * 1_000_000))
    src = F.col(source_col)
    full_map = F.create_map(
        *[x for s in full for x in (F.lit(s), F.lit(full[s]))]
    )
    frac_map = F.create_map(
        *[x for s in frac_ppm for x in (F.lit(s), F.lit(frac_ppm[s]))]
    )
    in_frac = F.pmod(
        _h64(F.col(id_col).cast("string"), salt), F.lit(1_000_000)
    ) < F.coalesce(frac_map[src], F.lit(0))
    n_copies = (
        F.coalesce(full_map[src], F.lit(0)) + in_frac.cast("int")
    ).alias("_n")
    kept = docs.where(src.isin(list(weights))).select(
        "*", n_copies
    ).where(F.col("_n") > 0)
    return kept.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias(epoch_col)
    ).drop("_n")


def chunk_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    stride: int | None = None,
    drop_empty: bool = True,
) -> DataFrame:
    """Context-window chunking: split each document into fixed-token-window
    training chunks (the step between cleaning and sequence packing in every
    LM data pipeline). Tokens are whitespace words (swap in a real tokenizer
    via mapInPandas when one is available — the chunk algebra is unchanged);
    ``stride < chunk_tokens`` yields overlapping windows (the BERT-style
    sliding context), ``stride == chunk_tokens`` (default) non-overlapping.

    Pure codegen'd column algebra — split once, explode a window-start
    ``sequence``, ``slice`` the word array per window, re-join. No shuffle,
    no Python in the row path, and the explode multiplies rows by
    ceil(n_tokens/stride) exactly like the downstream training set does.

    Output: (``id_col``, chunk_id, n_tokens, chunk_text) where chunk_id is
    0-based in window order and n_tokens is the window's actual token count
    (< chunk_tokens only for the tail window).
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    stride = chunk_tokens if stride is None else stride
    if not 1 <= stride <= chunk_tokens:
        raise ValueError("need 1 <= stride <= chunk_tokens")
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    words = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    base = docs.select(F.col(id_col), words.alias("_w")).withColumn(
        "_n", F.size("_w")
    )
    if drop_empty:
        base = base.where(F.col("_n") > 0)
    # window starts: 0, stride, 2*stride, ... while start < n (tail window
    # keeps the remainder; fully-contained-in-previous windows are skipped
    # when stride == chunk_tokens by construction)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.lit(0),
            F.floor((F.col("_n") - 1) / F.lit(stride)).cast("int") * F.lit(stride),
        ),
        F.lit(stride),
    )
    out = base.select(
        id_col,
        "_w",
        F.posexplode(starts).alias("chunk_id", "_start"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(
            F.lit(chunk_tokens), F.size("_w") - F.col("_start")
        ).cast("long").alias("n_tokens"),
        F.array_join(
            F.slice(F.col("_w"), F.col("_start") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )
    return out


def tfidf_top_terms(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_df: int = 1,
) -> DataFrame:
    """TF-IDF top-``k`` terms per document — the keyword-extraction /
    relevance-weighting primitive of corpus curation (topic balancing,
    near-duplicate triage, retrieval-augmented filtering).

    Exact fixed-point scoring so the ranking (and the DuckDB oracle hash)
    is engine-portable: ``idf_ppm = ((L2(N) - L2(df)) * 693147) div 2^16``
    with ``L2`` the EXACT fixed-point binary log (:func:`with_fixed_log2`),
    quantized once per TERM on the vocabulary-sized frame — no
    transcendental touches the gated value (a 1-ulp JVM-vs-libm ``ln``
    cannot flip a rank) — and ``score_ppm = tf * idf_ppm`` is an exact
    BIGINT product, ties broken by (score desc, term asc).

    Scale shape (the plan you want at 100 TB):
      1. tokenize + explode → groupBy (doc, term) count  — one shuffle with
         map-side partial aggregation (the explode itself is pipelined).
      2. document frequency: groupBy term COUNT over the (doc, term) frame —
         second map-side-combined shuffle, output is vocabulary-sized.
      3. corpus size N: a 1-row aggregate cross-joined in (broadcast — ships
         one long with the plan, no driver collect in the row path).
      4. tf ⋈ df on term — both sides already hash-partitioned by term from
         (1)-(2) inputs; AQE picks shuffle-hash for the vocab side.
      5. top-k per doc: rank window partitioned by doc — bounded partitions
         (a document's distinct-term count), never a global sort.

    ``min_df`` drops hapax noise terms before ranking (df < min_df).
    Output: (id_col, term, tf, score_ppm, term_rank), term_rank in 1..k.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    t = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    tokens = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    toks = docs.select(F.col(id_col), F.explode(tokens).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = with_fixed_log2(
        docs.select(F.count(F.lit(1)).cast("long").alias("_n_docs")),
        "_n_docs", "_l2n",
    )
    idf = with_fixed_log2(df_, "df", "_l2df").crossJoin(
        F.broadcast(n_docs)
    ).select(
        "term",
        "df",
        F.expr(
            f"((_l2n - _l2df) * {_LN2_PPM}) div {1 << _FL2_FRAC_BITS}"
        ).cast("long").alias("idf_ppm"),
    )
    scored = tf.join(idf.where(F.col("df") >= min_df), "term").select(
        id_col,
        "term",
        "tf",
        (F.col("tf") * F.col("idf_ppm")).alias("score_ppm"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_ppm").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "score_ppm", "term_rank")
    )


def dsir_weights(
    docs: DataFrame,
    target: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    arXiv:2302.03169): score every document by the log-likelihood ratio of a
    TARGET distribution vs the RAW corpus distribution over hashed token
    features — the weights used to resample a web-scale corpus toward a
    high-quality target domain.

    ``target`` is a boolean Column selecting the target subset (e.g.
    ``F.col("lang") == "en"`` or a quality-classifier verdict). Features are
    hashed unigram buckets ``pmod(_h64(token, salt), buckets)`` (the shared
    oracle-portable hash); bucket probabilities get Laplace smoothing
    ``(count + 1) / (total + buckets)``; the per-bucket log-ratio is
    quantized once per BUCKET via the EXACT fixed-point binary log
    (:func:`with_fixed_log2`): ``logratio_ppm = ((L2(ct+1) + L2(tr+b) -
    L2(cr+1) - L2(tt+b)) * 693147) div 2^16`` — four integer logs, no
    transcendental anywhere, so the value is bit-identical on any engine
    (the additive form also never overflows, unlike logging the cross
    products at 10^10-token scale). The per-document weight
    ``sum(logratio_ppm over tokens)`` is an exact BIGINT — order-independent
    and bit-identical in the DuckDB oracle, which replays the same integer
    steps.

    Scale shape: tokenize + explode → ONE map-side-combined shuffle produces
    the (bucket, is_target) counts; bucket stats are ≤ ``buckets`` rows
    (driver-free 1-row totals cross-joined in), and the per-token lookup
    joins against that broadcast bucket table — the corpus-sized path is one
    explode + one groupBy(doc) sum. Raw = the WHOLE corpus (target included),
    per the paper's formulation.

    Output: (id_col, n_tokens, dsir_logratio_ppm); token-less docs keep
    weight 0 with n_tokens 0.
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    from debezium_spark.functions.dedup import _h64

    t = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    tokens = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    toks = docs.select(
        F.col(id_col),
        target.cast("boolean").alias("_is_target"),
        F.explode(tokens).alias("_tok"),
    ).select(
        id_col,
        "_is_target",
        F.pmod(_h64(F.col("_tok"), salt), F.lit(buckets)).alias("_bucket"),
    )
    counts = toks.groupBy("_bucket").agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("_ct"),
        F.count(F.lit(1)).alias("_cr"),
    )
    totals = counts.select(
        F.sum("_ct").alias("_tt"), F.sum("_cr").alias("_tr")
    )
    cl = with_fixed_log2(
        counts.withColumn("_ct1", (F.col("_ct") + 1).cast("long")),
        "_ct1", "_l2ct",
    )
    cl = with_fixed_log2(
        cl.withColumn("_cr1", (F.col("_cr") + 1).cast("long")), "_cr1", "_l2cr"
    )
    tl = with_fixed_log2(
        totals.withColumn("_ttb", (F.col("_tt") + buckets).cast("long")),
        "_ttb", "_l2tt",
    )
    tl = with_fixed_log2(
        tl.withColumn("_trb", (F.col("_tr") + buckets).cast("long")),
        "_trb", "_l2tr",
    )
    lr = cl.crossJoin(F.broadcast(tl)).select(
        "_bucket",
        F.expr(
            f"((_l2ct + _l2tr - _l2cr - _l2tt) * {_LN2_PPM})"
            f" div {1 << _FL2_FRAC_BITS}"
        ).cast("long").alias("_lr_ppm"),
    )
    per_doc = (
        toks.join(F.broadcast(lr), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lr_ppm").alias("dsir_logratio_ppm"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("dsir_logratio_ppm", F.lit(0)).alias(
                "dsir_logratio_ppm"
            ),
        )
    )


def gopher_filter(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher quality-filter verdicts (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", table A1) — the composite keep/drop rule set every
    web-scale pretraining pipeline runs after dedup. One row per document
    with each rule's boolean and the conjunction ``keep``.

    Rules (all evaluated as EXACT INTEGER cross-multiplications — e.g.
    "mean word length in [3, 10]" is ``3*n_words <= total_chars <=
    10*n_words`` — so the DuckDB oracle agrees bit-for-bit; no float ratio
    ever materializes):

      r_word_count       min_words <= n_words <= max_words
      r_mean_word_len    mean word length in [3, 10]
      r_symbol_ratio     (#'#' + #'...') <= 0.1 * n_words
      r_bullet_lines     lines starting with a bullet <= 90%
      r_ellipsis_lines   lines ending with '...' <= 30%
      r_alpha_words      words containing a letter >= 80%
      r_stopwords        >= 2 distinct required stopwords present
      r_top_2gram        chars in the most frequent 2-gram <= 20% of text

    Tokenization is single-space split on the trimmed text — the SAME rule
    :func:`repetition_stats` uses, because r_top_2gram joins its exact
    integer (top_2gram, top_2gram_n) output. Everything else is per-row
    array algebra: ZERO shuffles beyond repetition_stats' own count
    aggregations, no Python in the row path.
    """
    rep = repetition_stats(docs, id_col=id_col, text_col=text_col).select(
        id_col, "n_words", "top_2gram", "top_2gram_n"
    )
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    # plain single-space split, matching repetition_stats exactly (empty text
    # yields [''] / one empty line in BOTH engines — pinned by the oracle)
    ws = F.split(t, " ")
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    required = [
        "the", "be", "to", "of", "and", "that", "have", "with",
    ]
    base = docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars_t"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("total_word_chars"),
        F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).alias("n_alpha_words"),
        (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).alias("n_hash"),
        (
            (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
        ).cast("long").alias("n_ellipsis"),
        F.size(lines).alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda ln: ln.startswith("- ")
                | ln.startswith("* ")
                | ln.startswith("•"),
            )
        ).alias("n_bullet_lines"),
        F.size(F.filter(lines, lambda ln: ln.endswith("..."))).alias(
            "n_ellipsis_lines"
        ),
        F.size(
            F.array_intersect(
                F.transform(ws, F.lower),
                F.array(*[F.lit(s) for s in required]),
            )
        ).alias("n_req_stopwords"),
    )
    j = base.join(rep, id_col)
    nw = F.col("n_words").cast("long")
    rules = {
        "r_word_count": (nw >= min_words) & (nw <= max_words),
        "r_mean_word_len": (F.col("total_word_chars") >= 3 * nw)
        & (F.col("total_word_chars") <= 10 * nw),
        "r_symbol_ratio": 10 * (F.col("n_hash") + F.col("n_ellipsis")) <= nw,
        "r_bullet_lines": 10 * F.col("n_bullet_lines") <= 9 * F.col("n_lines"),
        "r_ellipsis_lines": 10 * F.col("n_ellipsis_lines")
        <= 3 * F.col("n_lines"),
        "r_alpha_words": 5 * F.col("n_alpha_words") >= 4 * nw,
        "r_stopwords": F.col("n_req_stopwords") >= 2,
        "r_top_2gram": 5 * F.col("top_2gram_n") * F.length("top_2gram")
        <= F.col("n_chars_t"),
    }
    keep = None
    cols = [F.col(id_col), nw.alias("n_words")]
    for name, expr in rules.items():
        cols.append(expr.alias(name))
        keep = expr if keep is None else (keep & expr)
    cols.append(keep.alias("keep"))
    return j.select(*cols)


def shuffle_order(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    salt: str = "shuffle",
    rank_col: str = "shuffle_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle: rank every document by
    the portable hash of its id — the "shuffle the corpus once before
    sharding" step of every training pipeline, made reproducible (same salt
    -> same order on any cluster/partitioning, no RNG state to persist).

    Scale shape: a naive ``row_number() OVER (ORDER BY hash)`` funnels the
    corpus through one task (Exchange SinglePartition); this reuses the
    snapshot source's range-partitioned numbering
    (sources/snapshot.ranged_row_number — parallel range shuffle, windows
    only within partitions, driver folds in per-partition offsets as a
    literal map), so the global order costs one rangepartitioning exchange.

    Output: input columns + ``rank_col`` (1-based contiguous rank in hash
    order, hash ties broken by id).
    """
    from debezium_spark.functions.dedup import _h64
    from debezium_spark.sources.snapshot import ranged_row_number

    keyed = docs.withColumn(
        "_shuf_key", _h64(F.col(id_col).cast("string"), salt)
    )
    numbered, _total = ranged_row_number(
        keyed, ("_shuf_key", id_col), num_partitions=num_partitions,
        rn_col=rank_col,
    )
    return numbered.drop("_shuf_key")


def pmi_bigrams(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Corpus-level collocation mining: top-``k`` bigrams by pointwise mutual
    information — the word2phrase step (Mikolov et al. 2013) that promotes
    "new york"-style units before tokenizer/embedding training.

    ``pmi_ppm = ((L2(c(ab)) + L2(N) - L2(c(a)) - L2(c(b))) * 693147) div
    2^16`` with ``L2`` the EXACT fixed-point binary log
    (:func:`with_fixed_log2`) — counts are exact corpus integers, the four
    integer logs are quantized once per surviving BIGRAM (a
    vocabulary-sized frame) with no transcendental anywhere (the additive
    form also never overflows ``c(ab)*N`` at 10^10-token scale), and
    ranking ties break by bigram text, so the top-k is engine-portable.
    ``min_count`` is the standard noise floor (hapax bigrams have
    unboundedly inflated PMI).

    Scale shape: one tokenize+explode pass each for unigram and bigram
    counts (both map-side-combined shuffles keyed on the term); the bigram
    frame joins the unigram counts twice (left word, right word) — vocab x
    vocab-sized equi-joins, never corpus-sized; N is a 1-row broadcast;
    top-k is TakeOrdered. No float in any corpus-sized path.

    Output: (bigram, n_pair, n_left, n_right, pmi_ppm) ranked desc.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    t = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    toks = docs.select(words.alias("_ws"))
    uni = (
        toks.select(F.explode("_ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    grams = F.zip_with(
        F.slice(F.col("_ws"), 1, F.greatest(F.size("_ws") - 1, F.lit(0))),
        F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    big = (
        toks.select(F.explode(grams).alias("g"))
        .groupBy(F.col("g.l").alias("l"), F.col("g.r").alias("r"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    n_total = with_fixed_log2(
        toks.select(F.sum(F.size("_ws")).cast("long").alias("_n_tokens")),
        "_n_tokens", "_l2n",
    )
    unil = with_fixed_log2(uni, "n_w", "_l2w")
    bigl = with_fixed_log2(big, "n_pair", "_l2p")
    scored = (
        bigl.join(
            unil.select(
                F.col("w").alias("l"),
                F.col("n_w").alias("n_left"),
                F.col("_l2w").alias("_l2l"),
            ),
            "l",
        )
        .join(
            unil.select(
                F.col("w").alias("r"),
                F.col("n_w").alias("n_right"),
                F.col("_l2w").alias("_l2r"),
            ),
            "r",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            F.concat_ws(" ", "l", "r").alias("bigram"),
            "n_pair",
            "n_left",
            "n_right",
            F.expr(
                f"((_l2p + _l2n - _l2l - _l2r) * {_LN2_PPM})"
                f" div {1 << _FL2_FRAC_BITS}"
            ).cast("long").alias("pmi_ppm"),
        )
    )
    return scored.orderBy(F.desc("pmi_ppm"), F.asc("bigram")).limit(k)


def _exact_root_pow_q(n: Column, m: int) -> Column:
    """``floor(n^(1/m) * 1e6)`` EXACTLY, as DECIMAL(21,0), for integer
    ``1 <= m <= 4`` and a non-negative BIGINT column ``n <= 1e14`` (a 100 T
    token corpus; the result reaches 1e20 at m=1, past BIGINT).

    m=1 is the exact decimal product ``n * 1e6``. For m >= 2 a float ``pow``
    only SEEDS the guess, and the answer is pinned as the largest candidate
    ``k`` in guess±2 with ``k^m <= n * 10^(6m)``, checked in decimals sized
    per m — so a 1-ulp JVM-vs-libm ``pow`` divergence can shift the guess
    but never the result (the r4 transcendental-boundary gate risk, closed).
    ``n * 10^(6m)`` itself can reach 1e38 (m=4, n=1e14), one digit past
    DECIMAL(38,0), so the check compares ``ceil(k^m / 10^(6m)) <= n``
    instead, and a candidate whose ``k^m`` would pass DECIMAL(38,0) (past
    ``k_max``) exceeds every in-range target and is never formed."""
    out = "decimal(21,0)"
    if m == 1:
        return (n.cast("decimal(20,0)") * F.lit(10**6).cast("decimal(7,0)")).cast(out)
    g = F.floor(F.pow(n.cast("double"), F.lit(1.0 / m)) * F.lit(1e6)).cast(
        "long"
    )
    k_max = int(round((10**38) ** (1.0 / m)))
    while k_max**m >= 10**38:
        k_max -= 1
    dec = f"decimal({len(str(k_max))},0)"
    k_max = min(k_max, 2**63 - 1)  # candidates are BIGINT
    scale = F.lit(Decimal(10 ** (6 * m))).cast(f"decimal({6 * m + 1},0)")

    def fits(k: Column) -> Column:
        p = k.cast(dec)
        r = p
        for _ in range(m - 1):
            r = r * p
        rem = r % scale
        # (r - rem) is a multiple of scale, so this division is exact
        q = (r - rem) / scale
        return (q < n) | ((q == n) & (rem == 0))

    cands = F.array(
        *[
            # CASE keeps k^m unformed past k_max (no DECIMAL overflow)
            F.when((c >= 0) & (c <= k_max), F.when(fits(c), c))
            for c in (g + F.lit(d) for d in (-2, -1, 0, 1, 2))
        ]
    )
    return F.coalesce(F.array_max(cands), F.lit(0)).cast(out)


def temperature_weights(
    docs: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
    temperature: float = 3.0,
) -> DataFrame:
    """Temperature-scaled multilingual sampling weights (mT5 / XLM-R style):
    ``p_g ∝ n_g^(1/T)`` over per-group token counts — T=1 is proportional
    sampling, T→∞ uniform; 2-5 is the usual range that up-samples tail
    languages without drowning the head.

    Determinism: for INTEGER temperatures (the practical mT5/XLM-R settings)
    ``pow_q = floor(n^(1/T) * 1e6)`` is computed EXACTLY — the float ``pow``
    only seeds a guess that exact DECIMAL(38,0) comparisons pin down
    (:func:`_exact_root_pow_q`), so the value is bit-identical on any engine
    even when JVM and libm ``pow`` differ by an ulp at a rounding boundary.
    Non-integer temperatures fall back to the quantize-after-pow float path
    (``floor(n^(1/T)*1e6 + 0.5)``), which carries the documented 1-ulp
    boundary caveat. Either way the normalizing sum is an order-independent
    BIGINT sum and ``weight_ppm = pow_q * 1e6 DIV sum(pow_q)`` is exact
    integer division — no float accumulates across rows anywhere. One
    map-side-combined token-count shuffle (corpus-sized path); everything
    after runs on the |groups|-bounded frame.

    Output: (group, n_tokens, weight_ppm), weight_ppm summing to ~1e6
    (short by at most |groups| from floor truncation).
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    counts = docs.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens")
    )
    m = round(temperature)
    # m <= 4 keeps the exact root's decimal check inside DECIMAL(38,0) for
    # corpus-scale token counts (n <= 1e14); larger/non-integer T uses the
    # float path with its documented boundary caveat
    if abs(temperature - m) < 1e-12 and 1 <= m <= 4:
        pow_q = _exact_root_pow_q(F.col("n_tokens"), int(m))
    else:
        pow_q = F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(1.0 / temperature))
            * 1e6
            + F.lit(0.5)
        ).cast("long")
    w = counts.select("group", "n_tokens", pow_q.alias("_pq"))
    return w.select(
        "group",
        "n_tokens",
        F.expr("(_pq * 1000000) div sum(_pq) over ()").cast("long").alias("weight_ppm"),
    )


def unimax_weights(
    docs: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
    budget_tokens: int,
    max_epochs: int = 4,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151): give
    every language as equal a share of the token budget as possible,
    capping each at ``max_epochs`` passes over its data — the greedy
    smallest-first allocation is exactly WATER-FILLING, which has a closed
    form computable with window functions instead of a sequential loop:
    sort groups by capacity ``c_g = n_g * max_epochs`` ascending; group i
    is CAPPED iff ``c_i * (L-i+1) <= B - cumsum(c)_{i-1}`` (capped is a
    prefix of the sort — both sides are monotone), and every uncapped
    group gets the identical remainder share ``(B - sum(capped c)) DIV
    (L - K)``. Every comparison and division is BIGINT — the allocation is
    bit-identical on any engine/partitioning.

    Scale shape: one map-side-combined token-count shuffle over the
    corpus; the water-fill windows run on the |groups|-bounded frame (a
    global window over hundreds of language rows, not a data path).

    Output: (group, n_tokens, cap_tokens, alloc_tokens, epochs_ppm) with
    ``sum(alloc_tokens) <= budget_tokens`` (short only by integer-division
    remainder) and ``epochs_ppm = alloc * 1e6 DIV n_tokens <=
    max_epochs * 1e6``.
    """
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    from pyspark.sql import Window

    counts = docs.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens")
    )
    c = counts.select(
        "group",
        "n_tokens",
        (F.col("n_tokens") * max_epochs).cast("long").alias("cap_tokens"),
    )
    w_ord = Window.orderBy("cap_tokens", "group")  # bounded |groups| frame
    w_all = Window.partitionBy()
    ranked = c.select(
        "*",
        F.row_number().over(w_ord).alias("_i"),
        F.sum("cap_tokens").over(w_ord).alias("_cum"),
        F.count(F.lit(1)).over(w_all).alias("_L"),
    )
    capped = (
        F.col("cap_tokens") * (F.col("_L") - F.col("_i") + 1)
        <= F.lit(budget_tokens) - (F.col("_cum") - F.col("cap_tokens"))
    )
    flagged = ranked.select("*", capped.cast("int").alias("_capped"))
    flagged = flagged.select(
        "*",
        F.sum("_capped").over(w_all).alias("_K"),
        F.sum(F.col("cap_tokens") * F.col("_capped")).over(w_all).alias("_cumK"),
    )
    alloc = F.when(F.col("_capped") == 1, F.col("cap_tokens")).otherwise(
        F.expr(f"({budget_tokens} - _cumK) div (_L - _K)")
    ).cast("long")
    with_alloc = flagged.select(
        "group", "n_tokens", "cap_tokens", alloc.alias("alloc_tokens")
    )
    return with_alloc.select(
        "*",
        F.expr(
            "case when n_tokens = 0 then 0 else (alloc_tokens * 1000000) div n_tokens end"
        ).cast("long").alias("epochs_ppm"),
    )


# ln(2) * 1e6 as a FIXED integer constant — part of the unigram_nll
# quantization contract (any fixed rational would do; this one keeps the
# output in familiar nats-ppm units)
_LN2_PPM = 693147
_FL2_FRAC_BITS = 16


def with_fixed_log2(
    df: DataFrame, src: str, out: str, *, frac_bits: int = _FL2_FRAC_BITS
) -> DataFrame:
    """Add ``out`` = fixed-point ``log2(src)`` in ``2^-frac_bits`` units for
    a POSITIVE BIGINT column, by exact integer arithmetic only.

    Algorithm (classical shift-and-square binary log): the exponent is the
    bit length minus one (``length(bin(x)) - 1`` — exact on any engine, no
    transcendental); the mantissa normalizes to [2^30, 2^31) by integer
    shifts; each of ``frac_bits`` rounds squares the mantissa
    (m*m <= 2^62, BIGINT-safe), rescales by ``>> 30``, and emits one
    fraction bit with a truncating ``>> 1`` renormalization. Every step is
    an integer compare/multiply/shift, so the result is BIT-IDENTICAL on
    Spark and any SQL oracle replaying the same steps — unlike
    ``floor(log(x)*1e6 + 0.5)``, where a 1-ulp JVM-vs-libm ``log``
    difference at a rounding boundary flips the quantized value (the r4
    gate-risk class this closes). Truncation makes the result a
    deterministic lower approximation (relative error < 2^-14 at the
    defaults) — the CONTRACT is this exact bit pattern, not a rounding of
    the true log.

    Each round lands in its own projection (withColumn), so the plan stays
    linear in ``frac_bits`` — Catalyst's collapse guard keeps the
    multiply-referenced mantissa from inlining exponentially.
    """
    x = F.col(src)
    e = (F.length(F.bin(x)) - 1).cast("int")
    sr = lambda c, s: F.call_function("shiftright", c, s)  # noqa: E731
    sl = lambda c, s: F.call_function("shiftleft", c, s)  # noqa: E731
    m0 = (
        F.when(e >= 30, sr(x, (e - F.lit(30)).cast("int")))
        .otherwise(sl(x, (F.lit(30) - e).cast("int")))
        .cast("long")
    )
    df = (
        df.withColumn("_fl2_e", e.cast("long"))
        .withColumn("_fl2_m", m0)
        .withColumn("_fl2_f", F.lit(0).cast("long"))
    )
    for _ in range(frac_bits):
        df = df.withColumn(
            "_fl2_sq", sr(F.col("_fl2_m") * F.col("_fl2_m"), F.lit(30))
        )
        hi = F.col("_fl2_sq") >= F.lit(1 << 31)
        df = df.withColumn(
            "_fl2_f", F.col("_fl2_f") * 2 + hi.cast("long")
        ).withColumn(
            "_fl2_m",
            F.when(hi, sr(F.col("_fl2_sq"), F.lit(1))).otherwise(
                F.col("_fl2_sq")
            ),
        )
    df = df.withColumn(
        out, F.col("_fl2_e") * F.lit(1 << frac_bits) + F.col("_fl2_f")
    )
    return df.drop("_fl2_e", "_fl2_m", "_fl2_f", "_fl2_sq")


def fixed_log2_py(x: int, frac_bits: int = _FL2_FRAC_BITS) -> int:
    """Pure-Python reference of :func:`with_fixed_log2` (tests/oracles)."""
    if x <= 0:
        raise ValueError("x must be positive")
    e = x.bit_length() - 1
    m = (x >> (e - 30)) if e >= 30 else (x << (30 - e))
    f = 0
    for _ in range(frac_bits):
        sq = (m * m) >> 30
        if sq >= 1 << 31:
            f = f * 2 + 1
            m = sq >> 1
        else:
            f = f * 2
            m = sq
    return e * (1 << frac_bits) + f


def unigram_nll(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: int = 1,
) -> DataFrame:
    """Unigram language-model negative log-likelihood per document — the
    perplexity-style quality filter (CCNet, Wenzek et al. 2020, uses a
    KenLM 5-gram; the unigram form is the same pipeline shape with a
    vocab-sized model): documents whose tokens are improbable under the
    corpus-wide unigram distribution score high and get filtered or
    bucketed.

    Exactness: per-token ``nll = -ln((c_w + alpha) / (N + alpha*V))`` is
    quantized ONCE PER VOCABULARY TYPE (a vocab-sized frame,
    Laplace-smoothed so unseen-at-scoring-time tokens are impossible by
    construction here but the formula stays total) — and the quantization
    itself is EXACT integer arithmetic: ``nll_q = ((L2(D) - L2(c_w+alpha))
    * 693147) div 2^16`` where ``L2`` is the shift-and-square fixed-point
    binary log (:func:`with_fixed_log2`, 16 fraction bits) and 693147 is
    the fixed ln(2)*1e6 constant. No transcendental touches the gated
    value, so a 1-ulp JVM-vs-libm ``log`` divergence cannot flip it (the
    r4 boundary-risk class); the ~1e-4-relative quantization bias is
    deterministic and part of the contract. Each document's score is the
    exact BIGINT sum of its tokens' quantized nll — float math never runs
    anywhere in the operator.

    Plan shape: one tokenize+explode pass feeds TWO map-side-combined
    count shuffles (corpus token counts; per-(doc, token) counts); the
    model is a vocab-sized frame that BROADCAST-joins the per-doc-token
    frame; the final per-doc sum is one more map-side-combined shuffle
    keyed on the doc id. No corpus-sized float path, no window over the
    corpus.

    Output: (id, n_tokens, nll_ppm, avg_nll_ppm) — avg is integer
    division; rank/filter on avg_nll_ppm (length-normalized, the CCNet
    convention).
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    t = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    toks = docs.select(F.col(id_col).alias("id"), F.explode(words).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    # N and V are 1-row aggregates broadcast into the vocab frame; the
    # denominator's fixed-point log runs once on that 1-row frame
    nv = vocab.agg(
        F.sum("c_w").cast("long").alias("_N"), F.count(F.lit(1)).alias("_V")
    ).withColumn("_D", (F.col("_N") + F.lit(alpha) * F.col("_V")).cast("long"))
    nv = with_fixed_log2(nv, "_D", "_l2d")
    vl = with_fixed_log2(
        vocab.withColumn("_c", (F.col("c_w") + F.lit(alpha)).cast("long")),
        "_c",
        "_l2c",
    )
    model = vl.crossJoin(F.broadcast(nv)).select(
        "w",
        F.expr(
            f"((_l2d - _l2c) * {_LN2_PPM}) div {1 << _FL2_FRAC_BITS}"
        ).cast("long").alias("nll_q"),
    )
    per_doc_tok = toks.groupBy("id", "w").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        per_doc_tok.join(F.broadcast(model), "w")
        .groupBy("id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("n") * F.col("nll_q")).cast("long").alias("nll_ppm"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("nll_ppm"), F.lit(0)).cast("long").alias("nll_ppm"),
            F.expr(
                "case when coalesce(n_tokens, 0) = 0 then 0 "
                "else coalesce(nll_ppm, 0) div n_tokens end"
            ).cast("long").alias("avg_nll_ppm"),
        )
    )

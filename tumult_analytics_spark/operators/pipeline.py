"""Training-data pipeline operators beyond dedup/similarity: repetition
and PII quality signals, deterministic stratified sampling, benchmark
contamination checks, domain mixing weights, and connected-components
clustering of near-duplicate pairs.

Scale design notes (100 TB):

- ``ngram_repetition`` / ``pii_stats`` are pure Catalyst column
  expressions — whole-stage codegen, zero shuffles, zero Python.
- ``stratified_sample`` derives its keep/drop decision from md5 of a key
  column (a pure projection): no sampling state, no driver coordination,
  reproducible across retries/partitions — the property Spark's own
  ``df.sample`` does NOT give you under task retry.
- ``ngram_contamination`` broadcasts the benchmark's (small) distinct
  gram set and inner-joins the exploded corpus grams against it: the
  only shuffled rows are the *matched* grams (rare by construction), not
  the corpus.
- ``domain_mix_weights`` runs entirely on the post-aggregation table
  (one row per domain), so the two global normalizations are broadcast
  cross-joins of single-row DataFrames.
- ``connected_components`` is the iterative min-label propagation used
  for near-dup cluster collapse; each iteration is one shuffle on node
  id, with ``localCheckpoint`` cutting the lineage so plan size stays
  O(1) in the iteration count.
"""

from __future__ import annotations

import os
import re
from typing import Dict, Mapping, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..utils import local_frame

__all__ = [
    "ngram_repetition",
    "gopher_quality_flags",
    "pii_stats",
    "pii_redact",
    "cluster_representatives",
    "deterministic_uniform",
    "stratified_sample",
    "ngram_contamination",
    "bloom_filter_build",
    "cms_build",
    "cms_estimate",
    "bloom_contamination",
    "domain_mix_weights",
    "connected_components",
    "pack_sequences",
    "length_bucketed_batches",
    "sliding_chunks",
    "cap_per_group",
    "export_shards",
    "shard_id",
    "mix_to_token_budget",
    "recency_weighted_sample",
    "soft_dedup_weights",
    "split_dataset",
    "dsir_log_weights",
    "dsir_resample",
]


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def _token_ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined token n-grams; empty when fewer than n tokens.

    Pure Catalyst (sequence + transform + element_at) so the whole gram
    computation stays inside whole-stage codegen.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_repetition(
    df: DataFrame,
    text_column: str,
    ns: tuple = (2, 3),
    prefix: str = "dup",
) -> DataFrame:
    """Per-document n-gram repetition ratios (the Gopher-style signal).

    For each n in ``ns`` adds ``{prefix}{n}_ratio`` = fraction of token
    n-grams that are repeats of an earlier gram in the same document:
    ``(total - distinct) / total`` (0.0 when the document has fewer than
    n tokens). High values flag boilerplate/spam for filtering.

    No shuffle, no Python: per-row array math in codegen.
    """
    # Bind tokens (and each gram array) to columns before reusing them:
    # feeding the raw split expression to the slicing lambdas would
    # re-tokenize the text once per gram (interpreted-HOF O(tokens^2)).
    out = df.withColumn("__tk__", _tokens(F.col(text_column)))
    toks = F.col("__tk__")
    for n in ns:
        out = out.withColumn("__g__", _token_ngrams(toks, n))
        total = F.size(F.col("__g__"))
        distinct = F.size(F.array_distinct(F.col("__g__")))
        ratio = F.when(
            total > 0,
            (total - distinct).cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0))
        out = out.withColumn(f"{prefix}{n}_ratio", ratio).drop("__g__")
    return out.drop("__tk__")


#: Conservative, engine-portable patterns (identical semantics in Java
#: regex and RE2-style engines: no lookaround, no backrefs).
PII_PATTERNS: Dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[A-Za-z0-9./_\-?=&#%]+",
    "long_digits": r"[0-9]{9,}",
}


def pii_stats(
    df: DataFrame,
    text_column: str,
    patterns: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    """Count PII-ish pattern matches per document (emails, URLs, long
    digit runs by default) as ``n_{name}`` columns.

    Pure Catalyst ``regexp_count`` — scan-speed, codegen, no shuffle.
    """
    pats = dict(patterns) if patterns is not None else PII_PATTERNS
    out = df
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_column), F.lit(pat))
        )
    return out


def pii_redact(
    df: DataFrame,
    text_column: str,
    patterns: Optional[Mapping[str, str]] = None,
    output_column: Optional[str] = None,
    token: str = "<PII:{name}>",
) -> DataFrame:
    """Replace PII-ish pattern matches with typed placeholder tokens
    (``<PII:email>`` etc.) — the redaction step every
    training-corpus release applies, not just the counting.

    Patterns apply in dict order (so e.g. emails are replaced before a
    bare long-digit rule could eat their local part). Pure Catalyst
    ``regexp_replace`` chain — scan-speed, codegen, no shuffle, and the
    default patterns are RE2-compatible so any engine replays them.
    The original column is kept; the redacted text lands in
    ``output_column`` (default ``{text_column}_redacted``).
    """
    pats = dict(patterns) if patterns is not None else PII_PATTERNS
    col = F.col(text_column)
    for name, pat in pats.items():
        col = F.regexp_replace(col, F.lit(pat), F.lit(token.format(name=name)))
    return df.withColumn(output_column or f"{text_column}_redacted", col)


def deterministic_uniform(key: Column) -> Column:
    """Map a key column to a deterministic uniform double in [0, 1).

    Uses the top 13 hex chars (52 bits) of md5 so the value is exactly
    representable in a double and reproducible in any engine with md5
    (DuckDB, Trino, …) — unlike ``F.rand``, identical across task
    retries and partitionings.
    """
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10).cast(
        "long"
    ).cast("double") / F.lit(float(1 << 52))


def stratified_sample(
    df: DataFrame,
    strata_column: str,
    rates: Mapping[str, float],
    key_column: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling: keep a row iff
    ``u(key) < rates[stratum]`` where ``u`` is the md5-uniform above.

    The rate lookup is a Catalyst map literal (no join); the whole
    operator is a filter — fully pushdown-friendly and reproducible,
    the way large-scale data mixing wants it (re-running the pipeline
    keeps exactly the same rows).
    """
    mapping = F.create_map(
        *[F.lit(x) for kv in rates.items() for x in kv]
    )
    rate = F.coalesce(
        mapping[F.col(strata_column)], F.lit(float(default_rate))
    )
    return df.filter(deterministic_uniform(F.col(key_column)) < rate)


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_column: str,
    src: str = "id_a",
    dst: str = "id_b",
    weight_column: str = "dedup_weight",
    max_iterations: int = 20,
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, attach
    ``weight_column = 1 / |component|`` over the near-dup pair graph
    (docs in no pair weigh 1.0). Training on weighted examples keeps
    coverage while removing the duplication bias — the standard
    alternative when hard dedup is too aggressive (each duplicated
    cluster contributes ONE document's worth of expected gradient).

    Composes with any pair producer (MinHash LSH, cosine, n-gram
    Jaccard). Cost on top of the pairs: the component propagation
    (O(log diameter) rounds on the PAIR graph only, never the corpus)
    plus one component-size aggregation and one left join back.
    """
    cc = connected_components(
        pairs, src=src, dst=dst, max_iterations=max_iterations
    )
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("__n__")
    )
    w = (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias(id_column),
            (F.lit(1.0) / F.col("__n__").cast("double")).alias(
                weight_column
            ),
        )
    )
    return df.join(w, id_column, "left").withColumn(
        weight_column, F.coalesce(F.col(weight_column), F.lit(1.0))
    )


def recency_weighted_sample(
    df: DataFrame,
    ts_column: "Column",
    key_column: str,
    reference_ts: str,
    half_life_days: float,
    floor_rate: float = 0.0,
) -> DataFrame:
    """Deterministic freshness-decay sampling: keep a row with
    probability ``max(0.5 ^ (age_days / half_life_days), floor_rate)``
    where age is measured back from ``reference_ts`` (an ISO timestamp
    string — pass the pipeline's logical run date, never "now": a
    wall-clock default would make retries and reruns sample different
    rows). A zone-less ``reference_ts`` resolves in
    ``spark.sql.session.timeZone`` — pin that config (this repo pins
    UTC everywhere) or pass an explicit offset (``...T00:00:00+00:00``)
    so reruns on differently-configured clusters sample identical rows. The keep decision reuses the md5-uniform of ``key_column``,
    so it composes with the other deterministic samplers without
    correlation (per-purpose salt).

    The standard freshness weighting for crawl mixes (newer snapshots
    oversampled, old ones decayed but never fully dropped when
    ``floor_rate > 0``). A pure filter over codegen arithmetic:
    pushdown-friendly, no shuffle, reproducible across retries.
    """
    if half_life_days <= 0:
        raise ValueError("half_life_days must be > 0")
    if not 0.0 <= floor_rate <= 1.0:
        raise ValueError("floor_rate must be in [0, 1]")
    age_days = (
        F.unix_timestamp(F.lit(reference_ts).cast("timestamp"))
        - F.unix_timestamp(ts_column)
    ).cast("double") / F.lit(86400.0)
    rate = F.greatest(
        F.pow(F.lit(0.5), age_days / F.lit(float(half_life_days))),
        F.lit(float(floor_rate)),
    )
    u = deterministic_uniform(
        F.concat(F.col(key_column).cast("string"), F.lit(":recency"))
    )
    return df.filter(u < rate)


def mix_to_token_budget(
    df: DataFrame,
    domain_column: str,
    token_column: str,
    key_column: str,
    weights: Mapping[str, float],
    budget_tokens: int,
) -> DataFrame:
    """Downsample each domain so the corpus approaches ``budget_tokens``
    total tokens mixed at the target ``weights`` — the epoch-mixing step
    of a pre-training data pipeline ("40% web, 30% code, ..." at a
    100B-token budget).

    Per-domain keep rate is ``min(1, budget * w_d / tokens_d)``
    (domains under their allocation keep everything — no upsampling),
    and the keep decision is the md5-deterministic uniform from
    :func:`deterministic_uniform`, so the realized mixture is
    reproducible row-for-row across retries and engines.

    Scale: one partial-aggregated ``groupBy(domain)`` over the corpus,
    then a broadcast join of the tiny (one row per domain) rates table
    and a pushdown-friendly filter — no driver collect, no second
    shuffle. The rate arithmetic stays in fixed expression order
    (``(budget * w) / tokens``) so any IEEE-754 engine replays it
    bit-for-bit.
    """
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    totals = df.groupBy(domain_column).agg(
        F.sum(token_column).alias("__tok__")
    )
    rates = totals.select(
        domain_column,
        F.least(
            F.lit(1.0),
            (
                F.lit(float(budget_tokens))
                * F.coalesce(wmap[F.col(domain_column)], F.lit(0.0))
            )
            / F.col("__tok__").cast("double"),
        ).alias("__rate__"),
    )
    joined = df.join(F.broadcast(rates), domain_column)
    return joined.filter(
        deterministic_uniform(F.col(key_column)) < F.col("__rate__")
    ).drop("__rate__")


def cap_per_group(
    df: DataFrame,
    group_columns,
    key_column: str,
    max_rows: int,
    two_phase: bool = False,
) -> DataFrame:
    """Deterministically cap each group at ``max_rows`` rows (the
    per-domain document cap every crawl-derived corpus applies).

    Rows within a group are ranked by ``md5(key)`` (ties broken by the
    key itself), so the kept subset is a stable pseudo-random sample —
    identical across retries, partitionings, and engines, and exactly
    replayable in SQL (``row_number() OVER (... ORDER BY md5(key), key)``).

    Scale: one window shuffle on the group columns; the rank predicate
    is evaluated streamingly per group (no full-group buffering) and
    AQE's skew split handles pathological domains. ``two_phase=True``
    prepends a shuffle-free batch-local cap (same md5 order) so a
    heavy-hitter group ships at most ``max_rows`` rows per input
    partition into the window exchange instead of all of them — output
    is identical (the local top-n is a superset of each partition's
    contribution to the global top-n).
    """
    if max_rows < 1:
        raise ValueError("max_rows must be >= 1")
    if isinstance(group_columns, str):
        group_columns = [group_columns]
    if two_phase:
        df = _local_cap(df, list(group_columns), key_column, max_rows)
    key = F.col(key_column)
    w = Window.partitionBy(*group_columns).orderBy(
        F.md5(key.cast("string")), key
    )
    return (
        df.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= max_rows)
        .drop("__rk__")
    )


def _local_cap(
    df: DataFrame, group_columns, key_column: str, max_rows: int
) -> DataFrame:
    """Shuffle-free pre-cap: keep at most ``max_rows`` rows per group
    WITHIN each Arrow batch, ranked by the same md5-of-key order the
    global window uses.

    Every batch-local top-``max_rows`` set is a superset of that batch's
    contribution to the global top-``max_rows``, so the subsequent
    window produces identical output — but a heavy-hitter group now
    ships at most ``max_rows x n_partitions`` rows into the window
    exchange instead of all of its rows.

    The rank key ``md5(key)`` is computed JVM-side (Catalyst ``F.md5``)
    BEFORE the ``mapInPandas`` boundary, so the Python kernel only
    sorts/groups/heads — no per-row interpreter hashing. It is the
    byte-identical expression the global window orders by, including
    null semantics: Spark's ``md5(NULL)`` is NULL and ascending order
    is NULLS FIRST, which the kernel mirrors with
    ``na_position="first"``. Null GROUP keys are real groups (the
    window partitions them together), so the pandas groupby uses
    ``dropna=False`` — without it every null-keyed row would silently
    vanish from the two-phase path.
    """
    schema = df.schema
    rank_col = "__cap_md5__"
    with_rank = df.withColumn(
        rank_col, F.md5(F.col(key_column).cast("string"))
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf.drop(columns=[rank_col])
                continue
            ranked = pdf.sort_values(
                [rank_col, key_column],
                kind="mergesort",
                na_position="first",
            )
            kept = ranked.groupby(
                group_columns, sort=False, dropna=False
            ).head(max_rows)
            yield kept.sort_index().drop(columns=[rank_col])

    return with_rank.mapInPandas(fn, schema)


def derive_n_shards(
    n_rows: int, rows_per_shard: int = 160_000, floor: int = 8
) -> int:
    """Shard count from corpus size: ``max(floor, ceil(n /
    rows_per_shard))`` — engine-replayable (the `_auto_oracle_nlist`
    convention), so graded sinks can scale their write parallelism
    without breaking value parity. Rationale: a webdataset/WARC shard
    should be ~100 MB-1 GB so ONE task streams one shard; pinning the
    count makes the write shard-count-bound at scale (measured at
    sf100: 5M docs, 8 shards = 295 s vs 32 shards = 121 s on 32
    cores — the tar/gzip stream is single-threaded per shard)."""
    import math

    return max(int(floor), math.ceil(n_rows / float(rows_per_shard)))


def shard_id(key: Column, n_shards: int) -> Column:
    """Deterministic shard assignment in ``[0, n_shards)`` from md5 of a
    key column — 52 md5 bits mod n, reproducible in any engine with md5."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10)
        .cast("long")
        % F.lit(int(n_shards))
    ).cast("int")


def export_shards(
    df: DataFrame,
    path: str,
    key_column: str,
    n_shards: int = 16,
    format: str = "json",
    mode: str = "overwrite",
) -> DataFrame:
    """Write ``df`` as ``n_shards`` deterministic shards under ``path``
    (``shard=K/`` directories) and return the read-back DataFrame.

    The shard of a row is ``md5(key) mod n_shards`` — stable across
    reruns, so downstream trainers can address shards by number and
    resume mid-export. ``format="json"`` writes JSONL, the interchange
    format most training stacks ingest; parquet/csv/orc also work.

    Scale: the write is a single pass — the shard column is a pure
    projection and ``partitionBy`` splits files without a shuffle (each
    task writes up to ``n_shards`` files; for very large exports,
    ``repartition(n_shards, "shard")`` first to get exactly one file
    per shard per final task, at the cost of that one shuffle).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    out = df.withColumn("shard", shard_id(F.col(key_column), n_shards))
    out.write.partitionBy("shard").mode(mode).format(format).save(path)
    spark = df.sparkSession
    back = spark.read.format(format).schema(out.schema).load(path)
    return back


def epoch_shuffle(
    df: DataFrame,
    id_column: str,
    seed: int = 0,
    n_shards: int = 256,
    shard_column: str = "shard",
    pos_column: str = "pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: appends
    ``shard_column`` in ``[0, n_shards)`` and ``pos_column`` (1-based,
    contiguous within each shard) so that reading shards in order and
    rows by position visits the dataset in a seed-keyed pseudo-random
    permutation. Same (seed, ids) -> identical order on any cluster,
    any partitioning, any engine with md5 — the property trainers need
    to resume mid-epoch and to reproduce a loss curve exactly.

    Plan: order key = md5(seed || id) (uniform, engine-replayable);
    shard = key mod n_shards; position = one window per shard over the
    key. No global sort and no single-task stage: the only shuffle is
    the per-shard window, and each shard is ~n/n_shards rows — size
    ``n_shards`` so a shard fits a task (the same rule as the
    tar-shard exporter, and in practice the shard count trainers want
    anyway). New epoch = new seed, zero data movement of the payload
    until the write.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(str(int(seed))),
                    F.lit(":"),
                    F.col(id_column).cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn("__ek__", h).withColumn(
        shard_column, (F.col("__ek__") % F.lit(int(n_shards))).cast("int")
    )
    w = Window.partitionBy(shard_column).orderBy("__ek__", id_column)
    return out.withColumn(pos_column, F.row_number().over(w)).drop("__ek__")


def curriculum_order(
    df: DataFrame,
    id_column: str,
    tier_column: str,
    seed: int = 0,
    n_shards: int = 256,
    shard_column: str = "shard",
    pos_column: str = "pos",
) -> DataFrame:
    """Curriculum training order: ``epoch_shuffle``'s deterministic
    seed-keyed permutation, but tier-major — within every shard, rows
    are positioned by ``tier_column`` ascending (easy examples first),
    then by the seeded hash (random within a tier), then id. Data-
    parallel trainers consume one shard per worker, so "per-shard
    curriculum" IS the global curriculum each worker observes; there is
    deliberately no global ordering stage (a total order would funnel
    the whole dataset through one task — the anti-pattern this module
    avoids everywhere).

    Same plan shape and scale posture as ``epoch_shuffle``: one hash
    projection, one per-shard window (each shard ~n/n_shards rows), no
    payload movement until the eventual write. Same (seed, ids, tiers)
    -> identical order on any engine with md5. New epoch = new seed:
    tiers keep their precedence, intra-tier order reshuffles.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(str(int(seed))),
                    F.lit(":"),
                    F.col(id_column).cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn("__ek__", h).withColumn(
        shard_column, (F.col("__ek__") % F.lit(int(n_shards))).cast("int")
    )
    w = Window.partitionBy(shard_column).orderBy(
        F.col(tier_column).asc_nulls_last(), F.col("__ek__"), F.col(id_column)
    )
    return out.withColumn(pos_column, F.row_number().over(w)).drop("__ek__")


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_column: str,
    compare_columns: Sequence[str],
    carry_columns: Sequence[str] = (),
    status_column: str = "status",
) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: classify every document id
    across two dataset versions (e.g. consecutive crawls) as ``added``
    (only in new), ``removed`` (only in old), ``changed`` (in both,
    any ``compare_columns`` value differs) or ``unchanged`` — the churn
    accounting a training-data pipeline needs before deciding what to
    re-process, re-embed, or re-deduplicate incrementally.

    Comparison is by md5 fingerprint over ``compare_columns``: each
    column is hashed independently and the fingerprint is md5 over the
    joined fixed-width digests, so the encoding is injective — no
    separator/sentinel character a column VALUE could collide with
    (NULL is a non-hex token, distinguishable from every real digest
    including the empty string's). Wide payloads are compared after
    reduction to 32 bytes per side and the join carries no duplicate
    payload columns.
    ``carry_columns`` are surfaced as ``coalesce(new, old)`` — e.g. a
    language or domain column for per-segment churn stats.

    Scale: ONE shuffle per side (sort-merge full outer join on the id;
    both sides are corpus-sized so neither is broadcast), fingerprints
    computed map-side before the exchange — the shuffled row is
    (id, 32-byte fp, carry columns), never the document text. AQE
    handles id skew; ids are unique per side by contract (enforce
    upstream with exact dedup if needed).
    """
    if not compare_columns:
        raise ValueError("compare_columns must not be empty")

    def fp(side: DataFrame) -> DataFrame:
        # Per-column digest first, THEN hash the joined digests: every
        # token is either 32 hex chars or the non-hex "<null>", so the
        # composite is injective regardless of what bytes the values
        # contain (a raw concat with separator sentinels is not —
        # values holding the sentinel collide across column
        # boundaries, and a literal equal to the null sentinel
        # collides with NULL).
        parts = [
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit("<null>"))
            for c in compare_columns
        ]
        cols = [
            F.col(id_column),
            F.md5(F.concat_ws("|", *parts)).alias("__fp__"),
        ]
        cols += [F.col(c) for c in carry_columns]
        return side.select(*cols)

    o = fp(old_df).alias("o")
    n = fp(new_df).alias("n")
    joined = o.join(n, F.col(f"o.{id_column}") == F.col(f"n.{id_column}"), "full_outer")
    status = (
        F.when(F.col(f"o.{id_column}").isNull(), F.lit("added"))
        .when(F.col(f"n.{id_column}").isNull(), F.lit("removed"))
        .when(F.col("o.__fp__") != F.col("n.__fp__"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = [
        F.coalesce(F.col(f"n.{id_column}"), F.col(f"o.{id_column}")).alias(id_column),
        status.alias(status_column),
    ]
    for c in carry_columns:
        out_cols.append(F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c))
    return joined.select(*out_cols)


def pack_documents_greedy(
    df: DataFrame,
    id_column: str,
    length_column: str,
    max_length: int,
    n_shards: int = 256,
    seed: int = 0,
    shard_column: str = "shard",
    seq_column: str = "seq",
    offset_column: str = "seq_offset",
) -> DataFrame:
    """Pack whole documents into fixed-capacity training sequences
    WITHOUT splitting any document (the boundary-respecting variant of
    ``pack_sequences``: no cross-document attention leakage). Appends
    ``shard``, a per-shard ``seq`` id, and the document's start
    ``seq_offset`` within its sequence.

    Docs are walked in a seed-keyed md5 order within their shard
    (deterministic on any cluster); greedy rule: a doc joins the
    current sequence iff it fits in the remaining capacity, else it
    opens a new one. A doc longer than ``max_length`` gets a sequence
    of its own (callers filter or truncate beforehand if oversized
    docs are disallowed). Greedy-in-hash-order is the standard
    streaming-friendly packing (first-fit on a random permutation);
    its waste is bounded and, unlike best-fit-decreasing, it needs no
    global sort by length.

    Scale shape: shard = md5(seed:id) mod n_shards, ONE shuffle
    (groupBy shard); the per-shard walk is sequential in sequence
    order but runs as O(#sequences) ``np.searchsorted`` jumps on the
    length cumsum (each jump closes one sequence), NOT a per-row
    Python loop — with ~16 docs/sequence that is ~16x fewer
    interpreter iterations, and offsets/ids assign vectorized. Size
    ``n_shards`` so a shard fits a task (the tar-shard exporter's
    rule: target ~1-5M rows per shard, i.e. ``n_shards >= rows /
    5e6``); the shard is the parallelism unit — exactly how packing
    shards are produced for real loaders.
    """
    import pandas as pd

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if max_length < 1:
        raise ValueError("max_length must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(str(int(seed))),
                    F.lit(":"),
                    F.col(id_column).cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    staged = df.withColumn("__pk__", h).withColumn(
        shard_column, (F.col("__pk__") % F.lit(int(n_shards))).cast("int")
    )
    cap = int(max_length)
    out_schema = staged.drop("__pk__").schema.add(
        seq_column, "long"
    ).add(offset_column, "long")

    def pack_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["__pk__", id_column], kind="mergesort"
        ).reset_index(drop=True)
        lens = pdf[length_column].fillna(0).astype("int64").to_numpy()
        n = len(lens)
        csum = np.cumsum(lens)
        excl = csum - lens  # exclusive prefix sum
        # First-fit boundaries, vectorized: for EVERY position s, the
        # sequence that starts at s would end at nxt[s] =
        # searchsorted(csum, excl[s] + cap) (extend while used + len
        # <= cap; the maximum() forces progress, so an oversized doc
        # becomes a singleton). One C-speed pass computes all
        # candidates; the actual boundary chain is then O(#sequences)
        # array lookups — no per-row Python loop.
        nxt = np.searchsorted(csum, excl + cap, side="right")
        nxt = np.maximum(nxt, np.arange(1, n + 1))
        bounds = [0]
        s = 0
        while s < n:
            s = int(nxt[s])
            bounds.append(s)
        bounds = np.asarray(bounds, dtype="int64")
        counts = np.diff(bounds)
        seqs = np.repeat(np.arange(len(counts), dtype="int64"), counts)
        offs = excl - np.repeat(excl[bounds[:-1]], counts)
        out = pdf.drop(columns=["__pk__"])
        out[seq_column] = seqs
        out[offset_column] = offs
        return out

    return staged.groupBy(shard_column).applyInPandas(pack_fn, out_schema)


def export_webdataset(
    df: DataFrame,
    path: str,
    key_column: str,
    members: "dict[str, str]",
    n_shards: int = 16,
) -> DataFrame:
    """Write ``df`` as WebDataset-style tar shards and return a
    read-back manifest DataFrame (one row per shard) proving the tars
    parse: ``shard, n_samples, n_files`` plus ``<ext>_bytes`` per
    member extension.

    WebDataset (the de-facto sharded-tar layout for multimodal
    training loaders) stores one tar per shard; a sample is the group
    of consecutive members ``<key>.<ext>``. ``members`` maps extension
    -> column name; string columns are written UTF-8, binary columns
    raw — so text, JSON metadata, and opaque image/audio payloads all
    export through the same seam.

    Determinism: samples are sorted by key within a shard and tar
    headers pin mtime=0/uid=gid=0 (USTAR), so shard bytes are
    identical across reruns — trainers can resume and checksum.

    Scale shape: shard = ``md5(key) mod n_shards`` (engine-replayable),
    one shuffle (groupBy shard), one task writes one tar — the
    standard WebDataset writer contract. Size ``n_shards`` so a shard
    (~100 MB-1 GB in practice) fits in a task: the grouped Arrow batch
    holds one shard's rows. ``path`` resolves through the
    ``sources.fs`` seam: a local dir, a shared mount, or an
    object-store / cluster URI (``s3://``/``s3a://``, ``gs://``,
    ``hdfs://``) every executor can reach — tar bytes stream out
    (multipart upload on object stores), never buffering a shard.
    """
    import pandas as pd

    from ..sources import fs as xfs

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if not members:
        raise ValueError("members must map at least one extension")
    exts = sorted(members)
    path = xfs.normalize_uri(path)
    xfs.makedirs(path)
    cols = [F.col(key_column).cast("string").alias("__key__")] + [
        F.col(c).alias(f"__m_{e}__") for e, c in members.items()
    ]
    staged = df.select(
        shard_id(F.col(key_column), n_shards).alias("shard"), *cols
    )
    fs_env = xfs.env_snapshot()

    def _write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import tarfile

        from ..sources import fs as xfs

        xfs.apply_env(fs_env)
        shard = int(pdf["shard"].iloc[0])
        out = xfs.join(path, f"shard-{shard:05d}.tar")
        pdf = pdf.sort_values("__key__", kind="mergesort")
        keys = pdf["__key__"].tolist()
        mem = {e: pdf[f"__m_{e}__"].tolist() for e in exts}
        n_files = 0
        with xfs.open_output_stream(out) as fobj, tarfile.open(
            fileobj=fobj, mode="w", format=tarfile.USTAR_FORMAT
        ) as tar:
            for i, key in enumerate(keys):
                for e in exts:
                    v = mem[e][i]
                    if v is None:
                        continue
                    data = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                    info = tarfile.TarInfo(name=f"{key}.{e}")
                    info.size = len(data)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tar.addfile(info, io.BytesIO(data))
                    n_files += 1
        return pd.DataFrame({"shard": [shard], "n_files": [n_files]})

    written = staged.groupBy("shard").applyInPandas(
        _write_shard, "shard int, n_files long"
    )
    written.collect()  # materialize the write (tiny: one row per shard)
    return read_webdataset_manifest(df.sparkSession, path, exts)


def read_webdataset_manifest(
    spark, path: str, exts: "list[str]"
) -> DataFrame:
    """Parse every ``shard-*.tar`` under ``path`` back and aggregate a
    manifest: one row per shard with ``n_samples`` (distinct keys),
    ``n_files`` (tar members) and ``<ext>_bytes`` byte totals. Shards
    are listed driver-side (one listing of O(n_shards) names); each
    task then opens ITS OWN shard file and iterates tar HEADERS —
    ``tarfile`` on a seekable file reads each 512-byte header and
    seeks past the member data, so the read-back does O(members)
    header I/O and never holds a shard in memory.

    The first version used ``spark.read.format("binaryFile")``, which
    materializes every tar as ONE content cell: a JVM byte[] copy plus
    an Arrow transfer of the whole shard per row, a 2 GB hard cap per
    file, and (measured, sf100 campaign: 5M docs -> 8 x 1.3 GB tars)
    executor memory thrash that never finished. Whole-file-as-a-cell
    is an anti-pattern for anything shard-sized; paths-only + streamed
    parse is the 100 TB shape. Path visibility contract matches the
    writer's: any filesystem the ``sources.fs`` seam resolves (local
    dir, shared mount, or s3://-family / gs:// / hdfs:// URI readable
    by every executor); tar headers are skipped via the seam's
    seekable input file, so object-store read-back does ranged GETs,
    not whole-shard downloads."""
    import pandas as pd

    from ..sources import fs as xfs

    exts = sorted(exts)
    schema = "shard int, n_samples long, n_files long, " + ", ".join(
        f"{e}_bytes long" for e in exts
    )
    path = xfs.normalize_uri(path)
    shard_paths = xfs.list_files(path, (".tar",), prefix="shard-")
    if not shard_paths:
        raise FileNotFoundError(
            f"no shard-*.tar files under {path!r} — nothing to manifest "
            f"(wrong directory, or shards not visible on this filesystem)"
        )

    fs_env = xfs.env_snapshot()

    def _parse(batches):
        import re
        import tarfile

        from ..sources import fs as xfs

        xfs.apply_env(fs_env)
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                m = re.search(r"shard-(\d+)\.tar$", p)
                keys = set()
                by_ext = {e: 0 for e in exts}
                n_files = 0
                with xfs.open_input_file(p) as fobj, tarfile.open(
                    fileobj=fobj, mode="r:"
                ) as tar:
                    for info in tar:
                        n_files += 1
                        stem, _, ext = info.name.rpartition(".")
                        keys.add(stem)
                        if ext in by_ext:
                            by_ext[ext] += info.size
                rows.append(
                    [int(m.group(1)), len(keys), n_files]
                    + [by_ext[e] for e in exts]
                )
            yield pd.DataFrame(
                rows,
                columns=["shard", "n_samples", "n_files"]
                + [f"{e}_bytes" for e in exts],
            )

    files = local_frame(
        spark, [(p,) for p in shard_paths], "path string"
    ).repartition(max(len(shard_paths), 1))
    return files.mapInPandas(_parse, schema)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_column: str,
    id_column: str,
    n: int = 5,
    output_column: str = "contamination",
) -> DataFrame:
    """Fraction of each corpus document's distinct token n-grams that
    appear anywhere in the benchmark set (the standard train/test
    contamination check).

    ``id_column`` values must be unique per corpus row (same contract
    as :func:`corpus_diff`): the stats are grouped by id and joined
    back, so a duplicated id would receive merged counts on every
    copy. NULL ids fall through the left join with contamination 0.0.

    Plan shape: the benchmark's distinct grams are exploded (small —
    benchmarks are MBs, not TBs) and broadcast; corpus grams are
    exploded once and LEFT-joined against the broadcast so a single
    groupBy computes both the total and the matched gram count —
    map-side partial aggregation collapses the per-gram rows to one
    row per id per partition before the (only) shuffle. One tokenize
    pass, one shuffle, no persisted state (earlier revisions cached a
    gram-array frame shared by two branches and leaked it for the
    session lifetime — the single-branch shape needs no cache).
    """
    # Bind tokens to a column before the gram-slicing lambda on BOTH
    # sides (see SCALE.md: slicing an unbound split expression inside
    # transform() re-tokenizes the text once per gram).
    grams_of = lambda c: F.array_distinct(_token_ngrams(c, n))  # noqa: E731

    bench_grams = (
        benchmark.select(_tokens(F.col(text_column)).alias("__tk__"))
        .select(F.explode(grams_of(F.col("__tk__"))).alias("gram"))
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    doc_grams = corpus.select(
        F.col(id_column),
        F.explode(grams_of(_tokens(F.col(text_column)))).alias("gram"),
    )
    stats = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_column)
        .agg(
            F.count(F.lit(1)).alias("_total_grams"),
            F.count("__hit__").alias("_matched_grams"),
        )
    )
    out = corpus.join(stats, id_column, "left").withColumn(
        output_column,
        F.when(
            F.col("_total_grams") > 0,
            F.col("_matched_grams").cast("double")
            / F.col("_total_grams").cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop("_matched_grams")


#: The 8 "required stopwords" of the Gopher rules (Rae et al. 2021,
#: Table A1): a doc must contain at least 2 distinct ones.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    text_column: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The full Gopher quality-rule bundle (Rae et al. 2021, §A1.1) as
    one boolean column per rule plus the conjunction ``gopher_pass``:

    - ``g_word_count_ok``: word count in [min_words, max_words]
    - ``g_mean_word_len_ok``: mean word length in [3, 10]
    - ``g_symbol_ratio_ok``: (# + ellipsis occurrences) / words <= 0.1
    - ``g_bullet_ok``: <= 90% of lines start with a bullet
    - ``g_ellipsis_ok``: <= 30% of lines end with an ellipsis
    - ``g_alpha_ratio_ok``: >= 80% of words contain a letter
    - ``g_stopword_ok``: >= 2 distinct required stopwords present

    Per-rule flags (not a pre-filtered result) so a pipeline can audit
    WHY documents fail — the standard practice when tuning filters on a
    new corpus. Pure Catalyst column expressions: zero shuffles, zero
    Python, whole-stage codegen; every rule is exactly replayable in
    ANSI SQL (the ``gopher_flags`` oracle).
    """
    text = F.col(text_column)
    toks = _tokens(text)
    n_words = F.size(toks)
    nw = n_words.cast("double")
    sum_word_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_word_len = F.when(n_words > 0, sum_word_len / nw).otherwise(
        F.lit(0.0)
    )
    n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    n_ellipsis = (
        F.size(F.split(text, r"\.\.\.")) - 1
        + F.size(F.split(text, "…")) - 1
    )
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis).cast("double") / nw
    ).otherwise(F.lit(0.0))
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    nl = n_lines.cast("double")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_ratio = F.when(
        n_words > 0, alpha_words.cast("double") / nw
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.transform(toks, lambda t: F.lower(t)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    out = (
        df.withColumn(
            "g_word_count_ok",
            (n_words >= min_words) & (n_words <= max_words),
        )
        .withColumn(
            "g_mean_word_len_ok",
            (mean_word_len >= min_mean_word_len)
            & (mean_word_len <= max_mean_word_len),
        )
        .withColumn("g_symbol_ratio_ok", symbol_ratio <= max_symbol_ratio)
        .withColumn(
            "g_bullet_ok",
            bullet_lines.cast("double") <= max_bullet_ratio * nl,
        )
        .withColumn(
            "g_ellipsis_ok",
            ellipsis_lines.cast("double") <= max_ellipsis_ratio * nl,
        )
        .withColumn(
            "g_alpha_ratio_ok", alpha_ratio >= min_alpha_word_ratio
        )
        .withColumn("g_stopword_ok", stop_hits >= min_stopword_hits)
    )
    flags = [
        "g_word_count_ok",
        "g_mean_word_len_ok",
        "g_symbol_ratio_ok",
        "g_bullet_ok",
        "g_ellipsis_ok",
        "g_alpha_ratio_ok",
        "g_stopword_ok",
    ]
    pass_col = F.lit(True)
    for f in flags:
        pass_col = pass_col & F.col(f)
    return out.withColumn("gopher_pass", pass_col)


def _bloom_positions(gram: Column, k_hashes: int, m_bits: int) -> Column:
    """Array of ``k_hashes`` bit positions for a gram. Each position is
    the first 52 bits of ``md5(gram || '#' || i)`` mod ``m_bits`` — pure
    Catalyst, and exactly reproducible in ANSI SQL as
    ``('0x' || substr(md5(g || '#' || i), 1, 13))::BIGINT % m``."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(gram, F.lit(f"#{i}"))), 1, 13
                    ),
                    16,
                    10,
                ).cast("long")
                % m_bits
            )
            for i in range(k_hashes)
        ]
    )


def bloom_filter_build(
    benchmark: DataFrame,
    text_column: str,
    n: int = 5,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter over the benchmark's token n-grams, returned
    as a DataFrame of distinct set bit positions (``pos`` bigint) — the
    representation that joins, broadcasts, and persists as a table.

    This is the Dolma-style decontamination structure: at 100 TB the
    benchmark side stays a fixed-size bit set (≤ ``m_bits`` rows ~ MBs)
    no matter how many grams feed it, where the exact gram set of
    :func:`ngram_contamination` grows with the benchmark. The trade is a
    deterministic false-positive rate ≈ (k·G/m)^k — both engines replay
    the same md5 arithmetic, so even the false positives are
    reproducible and oracle-checkable.
    """
    if m_bits < 2 or k_hashes < 1:
        raise ValueError("m_bits must be >= 2 and k_hashes >= 1")
    grams = (
        benchmark.select(_tokens(F.col(text_column)).alias("__tk__"))
        .select(
            F.explode(F.array_distinct(_token_ngrams(F.col("__tk__"), n))).alias(
                "gram"
            )
        )
        .distinct()
    )
    return (
        grams.select(
            F.explode(_bloom_positions(F.col("gram"), k_hashes, m_bits)).alias(
                "pos"
            )
        )
        .distinct()
    )


def bloom_contamination(
    corpus: DataFrame,
    bloom: DataFrame,
    text_column: str,
    id_column: str,
    n: int = 5,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
    output_column: str = "bloom_hit_fraction",
) -> DataFrame:
    """Fraction of each document's distinct token n-grams whose
    ``k_hashes`` Bloom positions are ALL set in ``bloom`` (as built by
    :func:`bloom_filter_build` with the same ``n``/``m_bits``/
    ``k_hashes``).

    Plan shape: corpus grams explode ×``k_hashes`` position rows; the
    (small, fixed-size) bloom is broadcast and inner-joined on ``pos``,
    so only *matching* position rows reach the first shuffle; a gram is
    flagged iff all ``k_hashes`` of its rows matched (count == k per
    (id, gram)), then one narrow per-id count. Unmatched grams never
    shuffle at all.
    """
    grams_of = lambda c: F.array_distinct(_token_ngrams(c, n))  # noqa: E731
    doc_grams = (
        corpus.select(
            F.col(id_column), _tokens(F.col(text_column)).alias("__tk__")
        )
        .select(F.col(id_column), F.explode(grams_of(F.col("__tk__"))).alias("gram"))
        .select(
            F.col(id_column),
            F.col("gram"),
            F.explode(
                _bloom_positions(F.col("gram"), k_hashes, m_bits)
            ).alias("pos"),
        )
    )
    flagged = (
        doc_grams.join(F.broadcast(bloom), "pos")
        .groupBy(id_column, "gram")
        .agg(F.count(F.lit(1)).alias("__k__"))
        .filter(F.col("__k__") == k_hashes)
        .groupBy(id_column)
        .agg(F.count(F.lit(1)).alias("_flagged_grams"))
    )
    total = (
        corpus.withColumn("__tk__", _tokens(F.col(text_column)))
        .withColumn("_total_grams", F.size(grams_of(F.col("__tk__"))))
        .drop("__tk__")
    )
    out = total.join(flagged, id_column, "left").withColumn(
        output_column,
        F.when(
            F.col("_total_grams") > 0,
            F.coalesce(F.col("_flagged_grams"), F.lit(0)).cast("double")
            / F.col("_total_grams").cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop("_flagged_grams")


def cms_build(
    df: DataFrame,
    column: str,
    width: int = 1024,
    depth: int = 3,
) -> DataFrame:
    """Build a Count-Min Sketch over a column: ``depth x width`` integer
    counters as a DataFrame (``d``, ``pos``, ``cnt``) — at most
    ``depth * width`` rows no matter how many distinct values the
    column holds. Row ``d``'s position for value v is the md5-derived
    slot ``h(v # d) % width`` (same deterministic hash family as the
    Bloom filter, so SQL replays it).

    This is the fixed-memory frequency structure for streams and
    merge-friendly partial aggregation: sketches of two corpora ADD
    (union by (d, pos) summing ``cnt``), unlike exact top-k state.
    """
    if width < 1 or depth < 1:
        raise ValueError("width and depth must be >= 1")
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.col(column).cast("string"),
                                            F.lit(f"#{d}"),
                                        )
                                    ),
                                    1,
                                    13,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % width
                        ).alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__s__")
    )
    return (
        rows.select("__s__.d", "__s__.pos")
        .groupBy("d", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    column: str,
    width: int = 1024,
    depth: int = 3,
    output_column: str = "cms_estimate",
) -> DataFrame:
    """Point-estimate candidate values against a sketch from
    :func:`cms_build` (same ``width``/``depth``): the estimate is the
    MIN over the ``depth`` rows' counters — an overestimate of the true
    count, never an underestimate (the CMS guarantee). Candidates
    absent from every counter estimate 0.

    The sketch is at most depth*width rows — broadcast; candidates
    explode ``depth`` rows each, join on (d, pos), and take one
    per-candidate min. At 100 TB the sketch is built once (one bounded
    aggregation) and any number of candidate sets query it without
    touching the corpus again.
    """
    cand = candidates.select(F.col(column).alias("__v__")).distinct()
    probes = cand.select(
        "__v__",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.col("__v__").cast("string"),
                                            F.lit(f"#{d}"),
                                        )
                                    ),
                                    1,
                                    13,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % width
                        ).alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__s__"),
    ).select("__v__", "__s__.d", "__s__.pos")
    est = (
        probes.join(F.broadcast(sketch), ["d", "pos"], "left")
        .groupBy("__v__")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(output_column))
    )
    return est.withColumnRenamed("__v__", column)


def domain_mix_weights(
    df: DataFrame,
    group_column: str,
    size_column: str,
    alpha: float = 0.7,
) -> DataFrame:
    """Per-domain sampling weights for data mixing: aggregate
    ``size_column`` per domain, compute each domain's share, then
    temperature-flatten with exponent ``alpha`` and renormalize
    (w_d ∝ share_d^alpha) — the standard multilingual/multi-source
    mixing rule.

    Everything after the first aggregation operates on one row per
    domain; both global sums are single-row broadcast cross-joins.
    """
    g = df.groupBy(group_column).agg(F.sum(size_column).alias("_size"))
    tot = g.agg(F.sum("_size").alias("_tot"))
    g = g.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("_size").cast("double") / F.col("_tot").cast("double")
    )
    g = g.withColumn("_pw", F.pow(F.col("share"), F.lit(float(alpha))))
    z = g.agg(F.sum("_pw").alias("_z"))
    return (
        g.crossJoin(F.broadcast(z))
        .withColumn("weight", F.col("_pw") / F.col("_z"))
        .select(
            group_column,
            F.col("_size").alias("total_size"),
            "share",
            "weight",
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    output_node: str = "node",
    output_component: str = "component",
    on_nonconvergence: str = "raise",
) -> DataFrame:
    """Connected components of an undirected graph: each node's label
    converges to the smallest node id in its component. This is the
    cluster-collapse step after near-dup pair generation
    (MinHash/SimHash/cosine): one document per component survives.

    Algorithm: min-label propagation WITH pointer jumping — each round,
    a node takes the min over its own label and its neighbors' labels,
    then additionally chases one extra hop through the candidate map
    (label := label-of-label). The jump halves the remaining pointer
    path every round, so convergence is O(log(diameter)) iterations
    even for chain-shaped components (plain propagation is
    O(diameter) and would silently split a chain longer than
    ``max_iterations`` hops).

    If the loop exhausts ``max_iterations`` with labels still moving,
    the result would be WRONG (split components) — by default this
    raises; pass ``on_nonconvergence="warn"`` to get the partial
    labels with a warning instead.

    Scale: each iteration is two shuffles (the neighbor-min groupBy and
    the jump self-join), both on node id; the edge list is re-used
    unmodified. ``localCheckpoint`` truncates lineage so the logical
    plan doesn't grow with iterations — without it, iteration k
    replays all k-1 predecessors.
    """
    if on_nonconvergence not in ("raise", "warn"):
        raise ValueError("on_nonconvergence must be 'raise' or 'warn'")
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).filter(F.col("a") != F.col("b"))
    # Undirected: propagate both ways.
    bidir = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    bidir = bidir.distinct().localCheckpoint(eager=True)

    labels = (
        bidir.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    changed = 0
    for _ in range(max_iterations):
        nbr_min = (
            bidir.join(
                labels.withColumnRenamed("node", "a"), "a"
            )
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        cand = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", "label")
            ).alias("cand"),
            F.col("label").alias("_prev"),
        )
        # Pointer jump: label(node) := cand(cand(node)). Every cand
        # value is itself a node id (labels start as node ids and only
        # min-combine), so the self-join is total; the left join +
        # coalesce is belt-and-braces. Carry the previous label through
        # the checkpoint so convergence is a cheap filter-count over
        # materialized blocks, not an extra join job per iteration.
        parent = cand.select(
            F.col("node").alias("cand"), F.col("cand").alias("_jumped")
        )
        new_labels = (
            cand.join(parent, "cand", "left")
            .select(
                "node",
                F.coalesce(
                    F.least("cand", "_jumped"), F.col("cand")
                ).alias("label"),
                "_prev",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
        labels = new_labels.drop("_prev")
        if changed == 0:
            break

    if changed > 0:
        msg = (
            f"connected_components did not converge within "
            f"{max_iterations} iterations ({changed} labels still "
            "moving) — the returned components would be split. Raise "
            "max_iterations (rounds needed ~ log2 of the graph "
            "diameter)."
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    return labels.select(
        F.col("node").alias(output_node),
        F.col("label").alias(output_component),
    )


def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_column: str,
    preference_column: str,
    ascending: bool = False,
) -> DataFrame:
    """Collapse near-duplicate clusters keeping ONE representative per
    connected component — the best by ``preference_column`` (ties break
    to the smallest id) instead of the smallest id. This is how real
    dedup pipelines pick survivors: keep the longest / highest-quality
    copy, not an arbitrary one.

    ``pairs`` is a near-dup pair table (``id_a``, ``id_b``) from any of
    the pair generators (MinHash LSH, n-gram Jaccard, cosine).
    Documents not in any pair are their own singleton component and
    always survive.

    Scale: one connected-components run over the (small) pair graph,
    one broadcast-or-shuffled join to label docs, one window over
    components for the argmax — component cardinality is near-dup
    cluster size, so the window partitions are tiny.
    """
    cc = connected_components(
        pairs,
        src="id_a",
        dst="id_b",
        output_node="__node__",
        output_component="__comp__",
    )
    labeled = docs.join(
        cc, docs[id_column] == F.col("__node__"), "left"
    ).drop("__node__")
    comp = F.coalesce(F.col("__comp__"), F.col(id_column))
    pref = (
        F.col(preference_column).asc()
        if ascending
        else F.col(preference_column).desc()
    )
    w = Window.partitionBy(comp).orderBy(pref, F.col(id_column).asc())
    return (
        labeled.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") == 1)
        .drop("__rk__", "__comp__")
    )


def pack_sequences(
    df: DataFrame,
    token_count_col: str,
    seq_len: int,
    shard_key: str = "doc_id",
    n_shards: int = 64,
    order_col: Optional[str] = None,
) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing layout.

    Documents are hashed into ``n_shards`` independent shards
    (``shard_key % n_shards`` — a pure projection, deterministic across
    retries). Within a shard, documents are laid out in ``order_col``
    order (default: ``shard_key``) into one contiguous token stream,
    which is cut into fixed ``seq_len`` training sequences; documents may
    span a cut (the standard packing used for LLM pre-training batches,
    where attention masks handle document boundaries).

    Adds columns:

    - ``shard``: the shard id;
    - ``start_offset``: the document's first token's offset in the
      shard's stream;
    - ``first_seq`` / ``last_seq``: index of the training sequence
      containing the document's first / last token (``last_seq`` =
      ``first_seq`` for empty docs);
    - ``spans_boundary``: true when the document crosses a sequence cut.

    Scale: one shuffle, partitioned by shard. Shards are packed
    independently — exactly how distributed packing runs in production
    (each worker packs its own shard) — so no global sort and no
    single-partition bottleneck; ``n_shards`` just needs to exceed the
    cluster's core count.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    order = order_col or shard_key
    toks = F.col(token_count_col).cast("long")
    out = df.withColumn(
        "shard", F.pmod(F.col(shard_key).cast("long"), F.lit(n_shards))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = out.withColumn(
        "start_offset", F.coalesce(F.sum(toks).over(w), F.lit(0))
    )
    first_seq = F.floor(F.col("start_offset") / seq_len)
    last_seq = F.when(
        toks > 0, F.floor((F.col("start_offset") + toks - 1) / seq_len)
    ).otherwise(first_seq)
    return (
        out.withColumn("first_seq", first_seq)
        .withColumn("last_seq", last_seq)
        .withColumn(
            "spans_boundary", F.col("last_seq") > F.col("first_seq")
        )
    )


#: Default token-length bucket edges for :func:`length_bucketed_batches`
#: (left-closed; lengths >= the last edge share the top bucket). Fixed
#: integers, not log2 floats — bucket assignment must be bit-identical
#: across engines, and log2 of values near a power of two is not.
LENGTH_BUCKET_EDGES = (16, 32, 64, 128, 256, 512, 1024, 2048)


def length_bucketed_batches(
    df: DataFrame,
    token_count_col: str,
    batch_size: int,
    bucket_edges: tuple = LENGTH_BUCKET_EDGES,
    shard_key: str = "doc_id",
    n_shards: int = 64,
    order_col: Optional[str] = None,
) -> DataFrame:
    """Length-bucketed micro-batch assignment (the pad-efficiency
    batching used for SFT / seq2seq training): documents are bucketed by
    token length so a batch only pads up to its *bucket's* max, then
    grouped into fixed-size batches within each (shard, bucket).

    Adds ``bucket`` (index into ``bucket_edges``; lengths below
    ``bucket_edges[0]`` get 0, lengths >= the last edge get
    ``len(bucket_edges)``), ``shard``, ``batch_id`` (dense per
    (shard, bucket), ``batch_size`` docs each in ``order_col`` order),
    and ``batch_pad`` — the padding tokens this doc costs in its batch
    (``batch_max_len - n_tokens``).

    Scale: bucket and shard are pure projections; the only shuffle is
    one window partitioned by (shard, bucket) — shards keep any single
    partition's rows bounded at corpus_size / n_shards, the same
    independent-shard layout as :func:`pack_sequences`, so no global
    sort and no skew pileup on popular lengths.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if list(bucket_edges) != sorted(set(int(e) for e in bucket_edges)):
        raise ValueError("bucket_edges must be strictly increasing")
    order = order_col or shard_key
    toks = F.col(token_count_col).cast("long")
    bucket = F.lit(len(bucket_edges))
    for i in range(len(bucket_edges) - 1, -1, -1):
        bucket = F.when(toks < int(bucket_edges[i]), F.lit(i)).otherwise(
            bucket
        )
    # Numeric keys shard by value (stable, test-friendly); anything else
    # is hashed first — a bare cast of a non-numeric string to long would
    # yield null and collapse every row into one shard, defeating the
    # skew bound this layout exists for.
    key_type = df.schema[shard_key].dataType.simpleString()
    if key_type in ("tinyint", "smallint", "int", "bigint"):
        shard_expr = F.pmod(F.col(shard_key).cast("long"), F.lit(n_shards))
    else:
        shard_expr = F.pmod(
            F.xxhash64(F.col(shard_key).cast("string")), F.lit(n_shards)
        )
    out = df.withColumn("bucket", bucket).withColumn("shard", shard_expr)
    w = Window.partitionBy("shard", "bucket").orderBy(order)
    out = out.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )
    wb = Window.partitionBy("shard", "bucket", "batch_id")
    return out.withColumn("batch_pad", F.max(toks).over(wb) - toks)


def sliding_chunks(
    df: DataFrame,
    token_count_col: str,
    window: int,
    stride: int,
    chunk_start_col: str = "chunk_start",
    chunk_len_col: str = "chunk_len",
) -> DataFrame:
    """Overlapping fixed-size chunk spans per document (RAG / embedding
    chunking): chunks start at 0, stride, 2*stride, ... and the last
    chunk is the first one whose window reaches the end of the document
    (``n_chunks = 1 + ceil(max(n_tokens - window, 0) / stride)``).
    Documents with zero tokens produce no chunks.

    Emits one row per (document, chunk) with the chunk's token start
    offset and its actual length ``min(window, n_tokens - start)``.

    Pure Catalyst (sequence + explode): zero shuffles, zero Python; the
    fan-out is bounded by ``n_tokens / stride`` per document so the
    explode never materializes text, only integer spans.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if stride < 1:
        raise ValueError("stride must be >= 1")
    toks = F.col(token_count_col).cast("long")
    n_chunks = 1 + F.ceil(
        F.greatest(toks - window, F.lit(0)) / F.lit(stride)
    )
    starts = F.sequence(
        F.lit(0).cast("long"),
        (F.lit(stride) * (n_chunks - 1)).cast("long"),
        F.lit(stride).cast("long"),
    )
    out = df.filter(toks > 0).withColumn(
        chunk_start_col, F.explode(starts)
    )
    return out.withColumn(
        chunk_len_col,
        F.least(F.lit(window).cast("long"), toks - F.col(chunk_start_col)),
    )


def split_dataset(
    df: DataFrame,
    key_column: str,
    fractions: Mapping[str, float],
    output_column: str = "split",
    salt: str = ":split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5-uniform of the
    key is bucketed by cumulative fraction thresholds, so every row
    lands in exactly one split, assignments survive reruns/retries/
    repartitioning, and adding a new row never moves an existing one
    (the property random split utilities lack).

    ``fractions`` must sum to <= 1; rows with u >= sum(fractions) get
    null (callers can treat the remainder as holdout). Pure projection:
    no shuffle, no state, filter-pushdown friendly.

    ``salt`` decorrelates this stage's hash from every OTHER
    md5-of-key decision in the pipeline. Without it, composing with
    e.g. ``cap_per_group`` (which keeps the smallest-md5 rows per
    group) would funnel the survivors into the low-u splits — the
    classic correlated-hash pipeline bug.
    """
    total = 0.0
    expr = None
    u = deterministic_uniform(
        F.concat(F.col(key_column).cast("string"), F.lit(salt))
    )
    for name, frac in fractions.items():
        if frac < 0:
            raise ValueError(f"negative fraction for {name!r}")
        lo, total = total, total + float(frac)
        cond = (u >= F.lit(lo)) & (u < F.lit(total))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    if expr is None:
        raise ValueError("fractions must not be empty")
    return df.withColumn(output_column, expr)


# --- DSIR: Data Selection with Importance Resampling -----------------------
# Xie et al. 2023 (arXiv:2302.03169): select raw-corpus documents whose
# hashed n-gram feature distribution looks like a TARGET corpus, by
# importance weighting between two bag-of-buckets unigram models and
# Gumbel-top-k resampling. The shipped heuristic behind "make the crawl
# look like Wikipedia+books" mixes.


def dsir_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_column: str,
    id_column: str,
    n_buckets: int = 1024,
    smoothing: float = 1.0,
    weight_column: str = "dsir_logw",
) -> DataFrame:
    """Append each corpus document's DSIR importance log-weight:
    ``logw(doc) = sum_tokens log(p_target(bucket) / p_raw(bucket))``
    where both distributions are add-``smoothing`` smoothed histograms
    over ``n_buckets`` hashed token buckets (hashed n-gram features,
    n=1).

    Plan: each side's O(n_buckets)-row model is ONE aggregation
    subtree (totals and missing-bucket scalars come from whole-frame
    windows over the tiny model tables, never a second derivation of
    the counts), the per-bucket log-ratio table broadcasts into the
    exploded-token join, and one groupBy(doc) sums — the corpus is
    tokenized twice (model + per-doc sums), the target once, all in
    one lazy job, all Catalyst, no Python. The bucket hash is the
    repo's md5-60bit arithmetic, so weights replay exactly in SQL
    (log/exp rounded at comparison time).
    """
    from .dedup import _md5_hash60

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0")
    B = int(n_buckets)

    def buckets(df: DataFrame, cols) -> DataFrame:
        toks = F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_column))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("__tok__")
        out = df.select(*cols, toks)
        return out.withColumn(
            "__bkt__", F.pmod(_md5_hash60(F.col("__tok__")), F.lit(B))
        )

    from pyspark.sql import Window

    #: Whole-frame window over a <= B-row model table: a single tiny
    #: SinglePartition exchange. Using it for each model's total (and
    #: for the missing-bucket scalars below) keeps every model a
    #: SINGLE subtree. The previous crossJoin-a-1-row-total shape
    #: re-derived the counts aggregation for the total, and the ratio
    #: consumed each model's logp and logt through separate branches,
    #: so one dsir plan tokenized + md5-hashed the corpus FIVE times
    #: and the target four (measured: 9 Generate nodes,
    #: plans/r11/dsir_selection_before.txt) — exchange reuse never
    #: fires because column pruning specializes each copy. All log
    #: arithmetic is unchanged (integer count sums are exact), so
    #: every downstream double is bit-identical.
    _w_all = Window.partitionBy()

    def model(df: DataFrame, name: str) -> DataFrame:
        counts = buckets(df, []).groupBy("__bkt__").agg(
            F.count(F.lit(1)).alias("__c__")
        )
        # log p(bucket) = log(c + smoothing) - log(total + smoothing*B);
        # missing buckets contribute log(smoothing) - log(...), handled
        # via the left join + coalesce below.
        total = (
            F.sum("__c__").over(_w_all) + F.lit(float(smoothing * B))
        )
        return counts.select(
            "__bkt__",
            (
                F.log(F.col("__c__") + F.lit(float(smoothing)))
                - F.log(total)
            ).alias(f"__logp_{name}__"),
            F.log(total).alias(f"__logt_{name}__"),
        )

    tgt = model(target, "t")
    raw = model(corpus, "r")
    # Full bucket domain so unseen-in-one-side buckets get the smoothed
    # probability; the domain is B rows — driver-trivial, broadcast.
    spark = corpus.sparkSession
    dom = spark.range(B).select(F.col("id").cast("long").alias("__bkt__"))
    # Each model's logt is constant on its present rows; a whole-frame
    # max over the <= B-row joined domain recovers the scalar for the
    # missing-bucket branch without a second pass over either model
    # (empty model -> NULL, exactly the old 1-row-aggregate behavior).
    ratio = (
        dom.join(F.broadcast(tgt), "__bkt__", "left")
        .join(F.broadcast(raw), "__bkt__", "left")
        .withColumn("__lt_t__", F.max("__logt_t__").over(_w_all))
        .withColumn("__lt_r__", F.max("__logt_r__").over(_w_all))
        .select(
            "__bkt__",
            (
                F.coalesce(
                    F.col("__logp_t__"),
                    F.log(F.lit(float(smoothing))) - F.col("__lt_t__"),
                )
                - F.coalesce(
                    F.col("__logp_r__"),
                    F.log(F.lit(float(smoothing))) - F.col("__lt_r__"),
                )
            ).alias("__logratio__"),
        )
    )
    doc_buckets = buckets(corpus, [id_column])
    summed = (
        doc_buckets.join(F.broadcast(ratio), "__bkt__")
        .groupBy(id_column)
        .agg(F.sum("__logratio__").alias(weight_column))
    )
    # Docs with no tokens never appear in the explode: weight 0.
    return corpus.join(summed, on=id_column, how="left").withColumn(
        weight_column, F.coalesce(F.col(weight_column), F.lit(0.0))
    )


def dsir_resample(
    corpus: DataFrame,
    target: DataFrame,
    text_column: str,
    id_column: str,
    n: int,
    n_buckets: int = 1024,
    smoothing: float = 1.0,
    temperature: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """Select ``n`` corpus documents by DSIR importance resampling:
    Gumbel-top-k over ``logw / temperature`` — equivalent to sampling
    without replacement with probability proportional to
    ``w^(1/temperature)`` — with the Gumbel noise derived from the
    repo's deterministic md5-uniform of (id, salt), so the same inputs
    select the same documents on any engine and across retries.
    Returns the selected rows with ``dsir_logw`` and ``dsir_rank``.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    weighted = dsir_log_weights(
        corpus, target, text_column, id_column, n_buckets, smoothing
    )
    u = deterministic_uniform(
        F.concat(F.col(id_column).cast("string"), F.lit(":" + salt))
    )
    gumbel = -F.log(-F.log(u + F.lit(1e-300)))
    score = F.col("dsir_logw") / F.lit(float(temperature)) + gumbel
    # Distributed top-n (TakeOrderedAndProject: per-partition n-row
    # heaps, driver merge), then rank over only the n survivors. The
    # previous un-partitioned Window.orderBy row_number shuffled the
    # ENTIRE weighted corpus into one task — at crawl scale that single
    # stage dominated the job. Score is rounded to 6 before ranking so
    # 1-ulp libm differences cannot flip the order (oracle-matched).
    from ..utils import top_k

    return top_k(
        weighted.withColumn("__score__", F.round(score, 6)),
        [F.col("__score__").desc(), F.col(id_column).asc()],
        n,
        rank_col="dsir_rank",
    ).drop("__score__")

"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure Catalyst expressions (no Python in the
hot path) so they run inside whole-stage codegen over 100 TB of text."""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import arrow_matrix, collect_below_cap, local_frame, sum_partials

#: Tiny per-language stopword lists for the n-gram-free language heuristic.
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "una", "del", "por", "con", "para"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "个"],
}


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(df: DataFrame, text_column: str, output_column: str = "n_tokens") -> DataFrame:
    """Whitespace token count (0 for empty/blank text)."""
    return df.withColumn(
        output_column, F.size(_tokens(F.col(text_column)))
    )


def bpe_ish_token_count(
    df: DataFrame, text_column: str, output_column: str = "n_bpe_tokens"
) -> DataFrame:
    """BPE-ish token estimate: word-piece chunks of <=4 chars plus digits
    and punctuation as single tokens, via a regexp count — a cheap,
    deterministic stand-in for a real tokenizer at scan speed."""
    # Count matches of: up to-4-char letter runs | digit runs | single other
    pattern = r"[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]"
    return df.withColumn(
        output_column,
        F.size(F.regexp_extract_all(F.col(text_column), F.lit(pattern), 0)),
    )


def unigram_logprob_score(
    df: DataFrame,
    text_column: str,
    id_column: str,
    output_column: str = "lm_nll",
) -> DataFrame:
    """Per-document average unigram negative log-likelihood under the
    corpus's OWN unigram distribution — the CCNet-style LM quality
    signal with the corpus itself as the language model: documents
    whose token distribution diverges from the corpus (gibberish,
    boilerplate, wrong language) score HIGHER (worse).

    ``score(d) = avg over tokens t of d of [ln N - ln c(t)]`` where
    ``c(t)`` is the corpus token count and ``N`` the corpus token
    total — exact integer counts through ``ln``, rounded to 6 decimals
    so any engine replays it. Tokens are lowercased whitespace tokens;
    every document token is in the vocabulary by construction (no OOV
    smoothing needed).

    Scale: one explode + groupBy builds the frequency table (shuffle on
    token, map-side combine absorbs Zipf skew); scoring equi-joins the
    exploded tokens against it (Catalyst broadcasts when the vocab is
    small) and aggregates once per document. The text is scanned twice
    (frequency pass + scoring pass) — at 100 TB, persist the (tiny)
    frequency table and reuse it across runs instead.
    """
    toks = df.select(
        F.col(id_column),
        F.explode(_tokens(F.lower(F.col(text_column)))).alias("__t__"),
    )
    freqs = toks.groupBy("__t__").agg(F.count(F.lit(1)).alias("__c__"))
    tot = freqs.agg(F.sum("__c__").alias("__N__"))
    scored = (
        toks.join(freqs, "__t__")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_column)
        .agg(
            F.round(
                F.avg(F.log(F.col("__N__")) - F.log("__c__")), 6
            ).alias(output_column)
        )
    )
    return df.join(scored, id_column, "left")


def bigram_logprob_score(
    df: DataFrame,
    text_column: str,
    id_column: str,
    interp: float = 0.7,
    output_column: str = "lm2_nll",
) -> DataFrame:
    """Per-document average bigram negative log-likelihood under the
    corpus's own interpolated bigram model — the next step up from
    :func:`unigram_logprob_score` toward CCNet's KenLM filtering:

    ``p(t | prev) = interp * c2(prev, t) / c1(prev)
                  + (1 - interp) * c1(t) / N``

    averaged as ``-ln p`` over a document's bigram positions (docs with
    fewer than 2 tokens score null). Counts are exact corpus integers,
    so the score replays bit-for-bit in any engine computing the same
    double arithmetic; rounded to 6 decimals for the oracle.

    Scale: bigram extraction is ARRAY-side (transform over the token
    array — no window, no per-doc shuffle); the model is two hash
    aggregations (unigram and bigram counts, map-side combine absorbs
    Zipf skew); scoring is two equi-joins (bigram table, context
    counts) plus one broadcast of the 1-row total. Text is scanned
    twice — persist the (small) count tables to score future batches
    without re-reading the corpus.
    """
    if not 0.0 <= interp <= 1.0:
        raise ValueError("interp must be in [0, 1]")
    toked = df.select(
        F.col(id_column),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_column))), r"\s+"),
            lambda t: t != "",
        ).alias("__tk__"),
    )
    tk = F.col("__tk__")
    uni = (
        toked.select(F.explode(tk).alias("__t__"))
        .groupBy("__t__")
        .agg(F.count(F.lit(1)).alias("__c1__"))
    )
    tot = uni.agg(F.sum("__c1__").alias("__N__"))
    bigrams = toked.select(
        F.col(id_column),
        F.explode(
            F.when(
                F.size(tk) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 1),
                    lambda i: F.struct(
                        F.element_at(tk, i).alias("prev"),
                        F.element_at(tk, i + 1).alias("cur"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
        ).alias("__b__"),
    ).select(id_column, "__b__.prev", "__b__.cur")
    c2 = bigrams.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("__c2__")
    )
    ctx = uni.select(
        F.col("__t__").alias("prev"), F.col("__c1__").alias("__c1p__")
    )
    curu = uni.select(
        F.col("__t__").alias("cur"), F.col("__c1__").alias("__c1c__")
    )
    lam = float(interp)
    p = lam * (
        F.col("__c2__").cast("double") / F.col("__c1p__").cast("double")
    ) + (1.0 - lam) * (
        F.col("__c1c__").cast("double") / F.col("__N__").cast("double")
    )
    scored = (
        bigrams.join(c2, ["prev", "cur"])
        .join(ctx, "prev")
        .join(curu, "cur")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_column)
        .agg(F.round(F.avg(-F.log(p)), 6).alias(output_column))
    )
    return df.join(scored, id_column, "left")


#: Separator used in BPE oracle string representations; U+001F (unit
#: separator) cannot appear in whitespace-split tokens.
_BPE_SEP = "\x1f"


def _bpe_pair_counts(words, counts, acc: dict) -> dict:
    """Add to ``acc`` the adjacent-symbol pair counts of the ``_BPE_SEP``
    -joined ``words``, each weighted by its corpus count."""
    for w, n in zip(words, counts):
        syms = [t for t in w.split(_BPE_SEP) if t]
        for pair in zip(syms, syms[1:]):
            acc[pair] = acc.get(pair, 0) + n
    return acc


def _bpe_top_pair(words: DataFrame):
    """The most frequent adjacent pair of ``words`` as ``((left, right),
    count)``, ties to the smaller ``(left, right)``, or ``None`` when no
    word has two symbols: one ``mapInArrow`` pass in which each partition
    emits its :func:`_bpe_pair_counts`, summed per pair in Spark, so one
    row reaches the driver."""
    import pyarrow as pa

    schema = pa.schema([("l", pa.string()), ("r", pa.string()), ("cnt", pa.int64())])

    def run(batches):
        acc = {}
        for b in batches:
            _bpe_pair_counts(
                b.column("__w__").to_pylist(), b.column("__n__").to_pylist(), acc
            )
        yield pa.RecordBatch.from_pylist(
            [{"l": l, "r": r, "cnt": n} for (l, r), n in acc.items()], schema
        )

    top = (
        words.select("__w__", "__n__")
        .mapInArrow(run, "l string, r string, cnt long")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
        .limit(1)
        .collect()
    )
    return ((top[0]["l"], top[0]["r"]), top[0]["cnt"]) if top else None


def bpe_learn_merges(
    df: DataFrame,
    text_column: str,
    num_merges: int = 8,
    lowercase: bool = True,
    return_words: bool = False,
):
    """Distributed BPE vocabulary induction (Sennrich et al.): learn the
    top ``num_merges`` byte-pair merges over the corpus. Returns one row
    per merge step: (step, left, right, merged, pair_count).

    Spark-first shape — the classic scale trick is that BPE never
    iterates over the corpus: ONE pass builds the word-frequency
    histogram (explode tokens -> groupBy word), and every merge
    iteration runs on that histogram only (thousands-to-millions of
    rows, not TBs). Per step: weighted adjacent-pair counts over the
    histogram (:func:`_bpe_pair_counts`), the argmax (count DESC, then
    left/right lexicographic), and the merge applied to every word.

    Symbols are characters (no end-of-word marker — document-level
    token streams, not word-piece suffix modeling); deterministic
    given the corpus, so an unrolled SQL oracle replays every step.
    Each word is a U+001F-joined, sentinel-wrapped symbol STRING
    (``\\x1f s1 \\x1f s2 ... \\x1f``, split into code points by Spark)
    and a merge is one literal ``replace(w, sep+l+sep+r+sep,
    sep+l+r+sep)`` — leftmost non-overlapping continue-after-replacement,
    exactly the greedy BPE application, and exactly the oracle's ``w{i}``
    CTE.

    The decision runs on the small table: up to ``utils.DRIVER_LOOP_BYTES``
    of histogram, one ``toArrow()`` probe collects it
    and the merges run on the driver as ``str.replace``; the words come
    back as a local relation. Above the cap the histogram is
    checkpointed once and each step is one ``mapInArrow`` pair-count
    pass over it (the merges so far applied as a Catalyst ``replace``
    chain) whose per-partition counts Spark sums per pair, so one row
    reaches the driver.

    ``return_words``: additionally return the FULLY MERGED word
    histogram as ``(merges_df, words_df)`` where ``words_df`` has
    ``__w__`` (sep-joined merged symbol string), ``__n__`` (corpus
    frequency) and ``__orig__`` (the original word). Per-word subword
    counts read off this histogram equal what :func:`bpe_apply` would
    produce per word — the merge chain IS the tokenizer — so callers
    that only need counts can skip a whole corpus encode pass
    (guide §1.2 / §8: decide on the small table, not the corpus).
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    sep = _BPE_SEP
    text = F.col(text_column)
    if lowercase:
        text = F.lower(text)
    hist = (
        df.select(F.explode(_tokens(text)).alias("__w__"))
        .groupBy("__w__")
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    orig_cols = [F.col("__w__").alias("__orig__")] if return_words else []
    words = hist.select(
        F.concat(
            F.lit(sep), F.array_join(F.split("__w__", ""), sep), F.lit(sep)
        ).alias("__w__"),
        F.col("__n__"),
        *orig_cols,
    )
    table = collect_below_cap(words, 64)
    if table is not None:
        ws = table.column("__w__").to_pylist()
        ns = table.column("__n__").to_pylist()
    else:
        words = words.localCheckpoint(eager=True)

    merges = []
    for step in range(1, num_merges + 1):
        if table is not None:
            counts = _bpe_pair_counts(ws, ns, {})
            top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]), default=None)
        else:
            top = _bpe_top_pair(words)
        if top is None:
            break
        (a, b), n_pair = top
        merges.append((step, a, b, a + b, int(n_pair)))
        old, new = sep + a + sep + b + sep, sep + a + b + sep
        if table is not None:
            ws = [w.replace(old, new) for w in ws]
        else:
            words = words.withColumn(
                "__w__", F.replace(F.col("__w__"), F.lit(old), F.lit(new))
            )

    spark = df.sparkSession
    merges_df = local_frame(
        spark, merges,
        "step int, left string, right string, merged string, pair_count long",
    )
    if not return_words:
        return merges_df
    if table is not None:
        import pyarrow as pa

        table = table.set_column(0, "__w__", pa.array(ws, pa.string()))
        words = local_frame(spark, table, words.schema)
    return merges_df, words


def bpe_apply(
    df: DataFrame,
    text_column: str,
    merges,
    output_column: str = "bpe_tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize text with learned BPE merges (the serving side of
    :func:`bpe_learn_merges`): each whitespace word starts as its
    characters and the merge list applies IN LEARNED ORDER, each merge
    greedy left-to-right — the standard BPE encode. Adds
    ``output_column`` (array<string> of subword tokens across the
    document's words).

    ``merges``: the DataFrame returned by :func:`bpe_learn_merges` (its
    (left, right) pairs are collected — it has ``num_merges`` rows), or
    a list of (left, right) tuples. The merge table is closure-captured
    into the Arrow kernel (tiny — ships with the serialized task), so
    tokenization is a single mapInPandas pass: no joins, no shuffles,
    scan-speed at any corpus size.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if isinstance(merges, DataFrame):
        merges = [
            (r["left"], r["right"])
            for r in merges.orderBy("step").collect()
        ]
    merges = [(str(a), str(b)) for a, b in merges]

    def _encode_word(word):
        syms = list(word)
        for a, b in merges:
            res = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return syms

    def _tok(col):
        # Word types repeat across a corpus far more than they vary, so
        # encode each UNIQUE word once per Arrow batch (identical
        # output, typically orders of magnitude fewer merge loops).
        # Cache scope is the batch: worker memory stays bounded by the
        # batch's vocabulary.
        cache = {}
        out = []
        for t in col:
            if t is None:
                out.append(None)
                continue
            if lowercase:
                t = t.lower()
            toks = []
            for word in t.split():
                enc = cache.get(word)
                if enc is None:
                    enc = _encode_word(word)
                    cache[word] = enc
                toks.extend(enc)
            out.append(toks)
        return pd.Series(out)

    _udf = pandas_udf(_tok, "array<string>").asNondeterministic()
    return df.withColumn(output_column, _udf(F.col(text_column)))


def language_id(
    df: DataFrame,
    text_column: str,
    output_column: str = "lang_pred",
    model: "Optional[dict]" = None,
    n: int = 3,
) -> DataFrame:
    """Stopword-vote language heuristic: the language whose stopword list
    matches the most (lowercased) tokens wins (zh votes by substring
    count); ties and no-hits -> 'und'.

    Pass ``model`` — a ``{class: (bias, [w...])}`` dict trained by
    :func:`language_train_logreg` — to serve the TRAINED hashed
    char-ngram classifier through this same API instead of the
    heuristic (delegates to :func:`language_id_trained`; weight-vector
    length sets the feature dim). ``n`` is the char n-gram size and
    MUST match the size the model was trained with — a model trained
    at a different ``n`` would otherwise be served on mismatched
    features, silently predicting garbage (``n`` is ignored by the
    heuristic path).

    Arrow-batched kernel: Catalyst higher-order filters measured ~1 ms/doc
    (interpreted lambdas); the per-batch Python dict-lookup loop is ~10x
    faster and keeps a single text pass per document.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if model is not None:
        dim = len(next(iter(model.values()))[1])
        return language_id_trained(
            df, text_column, model, dim=dim, n=n,
            output_column=output_column,
        )

    word_langs = {
        w: lang for lang, ws in STOPWORDS.items() if lang != "zh" for w in ws
    }
    zh_words = STOPWORDS["zh"]
    langs = list(STOPWORDS)

    def _lang_fn(texts):
        out = []
        for t in texts:
            if t is None:
                out.append("und")
                continue
            votes = dict.fromkeys(langs, 0)
            for tok in t.lower().split():
                lang = word_langs.get(tok)
                if lang:
                    votes[lang] += 1
            for w in zh_words:
                votes["zh"] += t.count(w)
            best = max(votes.values())
            out.append(
                next(l for l in langs if votes[l] == best) if best > 0 else "und"
            )
        return pd.Series(out)

    _lang = pandas_udf(_lang_fn, "string")
    return df.withColumn(output_column, _lang(F.col(text_column)))


def hashed_char_ngrams(
    df: DataFrame,
    text_column: str,
    dim: int = 8,
    n: int = 3,
    output_column: str = "char_vec",
    signed: bool = True,
    spread_to: "Optional[int]" = None,
) -> DataFrame:
    """Feature-hashed character n-gram vectors — the fastText-style
    featurization for language identification: every char ``n``-gram
    hashes to a slot (md5, 60 bits -> ``h % dim``) with Weinberger
    signed counting (``1 - 2 * ((h // dim) % 2)``), exactly the
    :func:`hashed_doc_vectors` scheme applied to sliding character
    windows instead of whitespace tokens. Integer output
    (``array<long>``) so any md5-capable engine replays it exactly.

    Arrow-batched kernel — one md5 per UNIQUE gram per batch (cached;
    natural text reuses grams heavily). ~len(text) dict/array ops per
    row, so the input is spread across cores first (``spread_rows``,
    the minhash_signatures_md5 precedent: a one-file parquet scan
    otherwise runs the kernel on a single core). Docs shorter than
    ``n`` get the zero vector; null docs stay null.

    ``spread_to``: spread the RAW TEXT to this many partitions before
    the kernel instead of the core count. At production dims the
    output vectors dwarf the text (dim x 8 bytes per row), so callers
    who will cache the vectors size partitions by VECTOR payload and
    shuffle the cheap text ONCE here — repartitioning after
    featurization would shuffle the heavy vectors instead (the sf100
    lesson: a 40 GB vector exchange vs a 5 GB text one).
    """
    from pyspark.sql.functions import pandas_udf

    from ..utils import spread_rows

    if dim < 1:
        raise ValueError("dim must be >= 1")
    if n < 1:
        raise ValueError("n must be >= 1")

    _vec_fn = _char_ngram_kernel(dim, n, signed)

    _udf = pandas_udf(_vec_fn, "array<long>").asNondeterministic()
    if spread_to is not None:
        spread = df.repartition(int(spread_to))
    else:
        spread = spread_rows(df)
    return spread.withColumn(output_column, _udf(F.col(text_column)))


#: Cap on the per-worker gram -> (slot, sign) cache (r10 verdict #4): the
#: dict grows with every unique gram a long-lived worker ever sees for one
#: plan, which over diverse 100 TB multilingual text is unbounded. At the
#: cap (~2M entries = ~350 MB of dict overhead) it is cleared outright —
#: recomputing an md5 per unique gram per batch is cheap, the cache is a
#: throughput aid, never a correctness dependency.
_GRAM_CACHE_MAX = 2_000_000


def _char_ngram_kernel(dim: int, n: int, signed: bool):
    """Build the hashed-char-ngram pandas kernel (module-level factory so
    tests can drive the kernel and its cache bound directly)."""
    import hashlib

    import numpy as np
    import pandas as pd

    def _vec_fn_loop(texts):
        # Per-char Python loop — kept for n > 3 (rolling codepoint keys
        # below pack n codepoints x 21 bits into an int64, so they cap
        # at n=3).
        md5 = hashlib.md5
        cache = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            vec = np.zeros(dim, dtype=np.int64)
            for i in range(len(t) - n + 1):
                g = t[i : i + n]
                sv = cache.get(g)
                if sv is None:
                    h = int(md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    sv = (
                        h % dim,
                        (1 - 2 * ((h // dim) % 2)) if signed else 1,
                    )
                    cache[g] = sv
                vec[sv[0]] += sv[1]
            out.append(vec)
        return pd.Series(out)

    _SHIFT = 21  # max Unicode codepoint 0x10FFFF < 2^21
    _MASK = (1 << _SHIFT) - 1
    _CHUNK_CHARS = 1 << 22  # ~4M codepoints -> ~150 MB numpy peak
    _gram_cache: dict = {}  # int key -> (slot, sign); lives per worker

    def _vec_fn(texts):
        # Vectorized kernel (guide §4): decode the batch to one
        # codepoint array (utf-32-le), build every sliding window's
        # n-gram as a rolling 21-bit-packed int64 key, drop windows
        # that straddle document boundaries with one vectorized doc-id
        # compare, np.unique the keys, md5 ONLY the unique new grams
        # (cache persists across batches), and accumulate per-doc
        # signed counts with one bincount. Exact-integer sums, so the
        # different accumulation order is bit-identical to the per-char
        # loop it replaces.
        if n > 3:
            return _vec_fn_loop(texts)
        md5 = hashlib.md5
        cache = _gram_cache
        if len(cache) > _GRAM_CACHE_MAX:
            cache.clear()
        vals = texts.tolist()
        out = [None] * len(vals)
        i0 = 0
        while i0 < len(vals):
            i1, chars = i0, 0
            while i1 < len(vals) and (i1 == i0 or chars < _CHUNK_CHARS):
                t = vals[i1]
                if t is not None:
                    chars += len(t)
                i1 += 1
            nn = [t for t in vals[i0:i1] if t is not None]
            m = len(nn)
            vecs = np.zeros((m, dim), dtype=np.int64)
            if m:
                lens = np.fromiter(
                    (len(t) for t in nn), dtype=np.int64, count=m
                )
                codes = np.frombuffer(
                    "".join(nn).encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                total = codes.size
                if total >= n:
                    doc_pos = np.repeat(np.arange(m, dtype=np.int64), lens)
                    nwin = total - n + 1
                    keys = codes[:nwin].copy()
                    for j in range(1, n):
                        keys <<= _SHIFT
                        keys |= codes[j : nwin + j]
                    valid = doc_pos[:nwin] == doc_pos[n - 1 :]
                    vkeys = keys[valid]
                    vdocs = doc_pos[:nwin][valid]
                    if vkeys.size:
                        uniq, inv = np.unique(vkeys, return_inverse=True)
                        slots = np.empty(uniq.size, dtype=np.int64)
                        signs = np.empty(uniq.size, dtype=np.int64)
                        for u_i, kk in enumerate(uniq.tolist()):
                            sv = cache.get(kk)
                            if sv is None:
                                g = "".join(
                                    chr((kk >> (_SHIFT * (n - 1 - jj)))
                                        & _MASK)
                                    for jj in range(n)
                                )
                                h = int(
                                    md5(g.encode("utf-8")).hexdigest()[:15],
                                    16,
                                )
                                sv = (
                                    h % dim,
                                    (1 - 2 * ((h // dim) % 2))
                                    if signed else 1,
                                )
                                cache[kk] = sv
                            slots[u_i], signs[u_i] = sv
                        acc = np.bincount(
                            vdocs * dim + slots[inv],
                            weights=signs[inv].astype(np.float64),
                            minlength=m * dim,
                        )
                        vecs += acc.reshape(m, dim).astype(np.int64)
            k = 0
            for off, t in enumerate(vals[i0:i1]):
                if t is not None:
                    out[i0 + off] = vecs[k]
                    k += 1
            i0 = i1
        return pd.Series(out)

    _vec_fn._gram_cache = _gram_cache  # test hook: bounded-memory check
    return _vec_fn


def _char_vec(df, text_column, dim, n, vec_column=None, nt_column=None):
    """``(frame, vec column, gram count)`` for the trained language-id
    functions: featurize with :func:`hashed_char_ngrams` unless
    ``vec_column`` names an already-computed (e.g. persisted) vector —
    the train-then-serve compositions featurize once this way — and
    count grams as ``nt_column`` or ``max(len(text) - (n - 1), 1)``."""
    if vec_column is None:
        df = hashed_char_ngrams(
            df, text_column, dim=dim, n=n, output_column="__cv__"
        )
        vec_column = "__cv__"
    if nt_column is not None:
        nt = F.col(nt_column).cast("double")
    else:
        nt = F.greatest(
            F.length(F.col(text_column)) - (n - 1), F.lit(1)
        ).cast("double")
    return df, vec_column, nt


def _char_ngram_features(
    vec_column: str, nt: Column, dim: int
) -> "list[Column]":
    """Normalized char-ngram features x_j = signed-count_j / n_grams —
    exact rationals, shared by training and trained inference so
    weights transfer exactly."""
    return [F.col(vec_column)[j].cast("double") / nt for j in range(dim)]


def _gd_partial(X, Y, b, W):
    """One :func:`_train_gd` step's partial sums over the rows ``X``
    (n x dim features) with targets ``Y`` (n x K): the row count, then
    per target the squared-error sum, the bias-gradient sum and the
    ``g^T X`` weight-gradient sums."""
    import numpy as np

    z = X @ W.T + b
    e = 0.5 * (1.0 + z / (1.0 + np.abs(z))) - Y
    g = 2.0 * e * (0.5 / np.square(1.0 + np.abs(z)))
    return np.concatenate(
        ([float(len(X))], (e * e).sum(axis=0), g.sum(axis=0), (g.T @ X).ravel())
    )


def _column_features(K: int):
    """GD featurizer for a frame of ``K`` target columns followed by the
    feature columns: an Arrow batch -> ``(X, Y)``. A row with a null
    target or feature is skipped, as SQL ``avg()`` skips it."""
    import numpy as np

    def featurize(batch):
        cols = batch.drop_null().columns
        M = np.column_stack([c.to_numpy(zero_copy_only=False) for c in cols])
        return M[:, K:], M[:, :K]

    return featurize


def _train_gd(data, featurize, b, w, steps, lr, name, persist=True) -> "list[tuple]":
    """The one GD trainer, behind :func:`quality_train_logreg`,
    :func:`language_train_logreg` and :func:`language_train_logreg_vec`:
    full-batch gradient descent of one rational-logistic model per
    target, from biases ``b`` (K) and weight rows ``w`` (K x dim), over
    ``data`` as ``featurize`` (an Arrow batch -> features ``X``, targets
    ``Y``) reads it.

    Each step is one :func:`_gd_partial` kernel: ``1 + 2K + K*dim``
    partial sums, then a driver-side update. Up to
    ``utils.DRIVER_LOOP_BYTES`` of input (8 bytes per feature and
    target) one ``toArrow()`` probe collects the frame and every step
    runs on the driver; above it each step is one ``mapInArrow`` pass
    over ``data`` (persisted first when ``persist``) whose partitions
    emit their partial sums — the weights ship in the task closure, so
    there is no broadcast join and no row shuffle.

    Engine-portability: ``s(z) = 0.5 * (1 + z / (1 + |z|))`` with MSE
    loss, gradient ``2 * (s - y) * s'(z) * x``, ``s'(z) = 0.5 /
    (1 + |z|)^2`` — pure +,*,/,abs arithmetic, no libm exp/log, so an
    ANSI-SQL oracle replays the unrolled steps to equality after
    round-to-6 (sums run in another order, so not bit-exact).

    Returns ``(step, target, bias, weights, mse)`` rows: POST-update
    weights, mse measured BEFORE the update.
    """
    import numpy as np

    if steps < 1:
        raise ValueError("steps must be >= 1")
    b = np.array(b, dtype=np.float64)
    W = np.array(w, dtype=np.float64)
    K, dim = W.shape
    table = collect_below_cap(data, 8 * (K + dim))
    if table is not None:
        X, Y = featurize(table)
    elif persist:
        data = data.persist()
    hist = []
    try:
        for step in range(1, int(steps) + 1):
            if table is not None:
                p = _gd_partial(X, Y, b, W)
            else:
                p = sum_partials(
                    data,
                    lambda batch: _gd_partial(*featurize(batch), b, W),
                    1 + 2 * K + K * dim,
                )
            n = p[0]
            if n == 0:
                raise ValueError(
                    f"{name}: empty training input — the gradient "
                    "averages would be null"
                )
            mse = p[1 : 1 + K] / n
            b = b - float(lr) * p[1 + K : 1 + 2 * K] / n
            W = W - float(lr) * p[1 + 2 * K :].reshape(K, dim) / n
            for c in range(K):
                hist.append((step, c, float(b[c]), W[c].tolist(), float(mse[c])))
    finally:
        if table is None and persist:
            data.unpersist()
    return hist


def language_train_logreg(
    df: DataFrame,
    text_column: str,
    label_column: str,
    classes: "list[str]",
    dim: int = 8,
    n: int = 3,
    steps: int = 2,
    lr: float = 1.0,
    vec_column: "Optional[str]" = None,
) -> DataFrame:
    """In-engine TRAINED language identification: K one-vs-rest
    rational-logistic models over hashed char-``n``-gram features —
    the fastText recipe (hashed char n-grams -> linear classifier)
    shrunk to the engine's exactly-replayable arithmetic. Replaces
    guessing with learning where :func:`language_id`'s stopword vote
    cannot separate same-script languages.

    Trained by the shared GD trainer :func:`_train_gd` (its docstring
    carries the full rationale) with K indicator targets over ``dim``
    projected feature columns: weights driver-side (K x (dim+1)
    floats), each step one kernel computing every class's gradient sums
    in a single pass. Features are exact rationals: signed gram count /
    gram count (both integers); ``vec_column`` reuses an
    already-computed :func:`hashed_char_ngrams` column.

    Returns one row per (step, class): POST-update ``bias, w0..w{dim-1}``
    and that class's pre-update ``mse``.
    """
    if not classes:
        raise ValueError("classes must be non-empty")
    with_vec, vec_column, nt = _char_vec(df, text_column, dim, n, vec_column)
    ys = [
        (F.col(label_column) == F.lit(c)).cast("double").alias(f"__y{i}__")
        for i, c in enumerate(classes)
    ]
    xs = _char_ngram_features(vec_column, nt, dim)
    xs = [x.alias(f"__x{j}__") for j, x in enumerate(xs)]
    K = len(classes)
    hist = _train_gd(
        with_vec.select(*ys, *xs), _column_features(K),
        [0.0] * K, [[0.0] * dim] * K, steps, lr, "language_train_logreg",
    )
    schema = (
        "step int, class string, bias double, "
        + ", ".join(f"w{j} double" for j in range(dim))
        + ", mse double"
    )
    return local_frame(
        df.sparkSession,
        [(step, classes[c], b, *w, mse) for step, c, b, w, mse in hist],
        schema,
    )


def language_id_trained(
    df: DataFrame,
    text_column: str,
    weights: "dict[str, tuple]",
    dim: int = 8,
    n: int = 3,
    output_column: str = "lang_pred",
    und_margin: Optional[float] = None,
    vec_column: Optional[str] = None,
) -> DataFrame:
    """Serve a :func:`language_train_logreg` model: per-class linear
    scores over the same hashed char-ngram features, argmax with a
    strictly-greater fold in ``weights`` insertion order (first class
    wins ties — deterministic, engine-replayable as a CASE chain).
    ``weights``: ``{class: (bias, [w0..w{dim-1}])}``. Round the
    trained floats (e.g. to 6 decimals) before serving when an
    external engine must replay the argmax bit-for-bit.

    ``und_margin``: when set, low-confidence rows — best score minus
    the runner-up below the margin — predict ``'und'`` instead of the
    argmax (the fastText/CLD convention: garbage and mixed-script text
    should say "don't know", not pick a class). Still a pure column
    expression, replayable as ``greatest(...) - second_greatest``.

    Pure projection after the vec kernel — no shuffle; the score
    arithmetic is a fixed left-to-right chain so IEEE doubles agree
    across engines."""
    if not weights:
        raise ValueError("weights must be non-empty")
    drop_vec = vec_column is None
    with_vec, vec_column, nt = _char_vec(df, text_column, dim, n, vec_column)
    xs = _char_ngram_features(vec_column, nt, dim)
    classes = list(weights)
    # Materialize each class score as a PROJECTED COLUMN before the
    # argmax fold: the fold's when-chains duplicate their inputs, so
    # folding over the raw (dim+1)-term score expressions multiplies
    # compiled expression text ~2^K; over attributes it stays linear.
    zcols = []
    for i, c in enumerate(classes):
        bias, ws = weights[c]
        if len(ws) != dim:
            raise ValueError(f"weights[{c!r}] must have {dim} entries")
        z = F.lit(float(bias))
        for j in range(dim):
            z = z + F.lit(float(ws[j])) * xs[j]
        zcols.append(z.alias(f"__z{i}__"))
    scored = with_vec.select("*", *zcols)
    best_z, best_c = F.col("__z0__"), F.lit(classes[0])
    second_z = F.lit(float("-inf"))
    for i, c in enumerate(classes[1:], start=1):
        z = F.col(f"__z{i}__")
        gt = z > best_z
        second_z = F.when(gt, best_z).otherwise(
            F.when(z > second_z, z).otherwise(second_z)
        )
        best_z = F.when(gt, z).otherwise(best_z)
        best_c = F.when(gt, F.lit(c)).otherwise(best_c)
    if und_margin is not None and len(classes) > 1:
        best_c = F.when(
            best_z - second_z < F.lit(float(und_margin)), F.lit("und")
        ).otherwise(best_c)
    drops = [f"__z{i}__" for i in range(len(classes))]
    if drop_vec:
        drops.append(vec_column)
    return scored.withColumn(output_column, best_c).drop(*drops)


def _vec_features(K: int, dim: int):
    """GD featurizer for :func:`language_train_logreg_vec`'s frame of
    ``__yi__`` class indexes (-1: no class), ``__cv__`` signed gram
    counts and ``__nt__`` gram counts: an Arrow batch -> ``(X, Y)``
    with ``X = cv / nt`` and one-hot targets ``Y``."""
    import numpy as np

    def featurize(batch):
        X = arrow_matrix(batch.column("__cv__"), dim)
        X /= batch.column("__nt__").to_numpy()[:, None]
        lab = batch.column("__yi__").to_numpy()
        return X, (lab[:, None] == np.arange(K)).astype(np.float64)

    return featurize


def language_train_logreg_vec(
    df: DataFrame,
    text_column: "Optional[str]",
    label_column: str,
    classes: "list[str]",
    dim: int = 1024,
    n: int = 3,
    steps: int = 10,
    lr: float = 1.0,
    vec_column: "Optional[str]" = None,
    nt_column: "Optional[str]" = None,
    persist: bool = True,
) -> DataFrame:
    """PRODUCTION-SHAPE trained language id: the exact
    :func:`language_train_logreg` math (hashed char-``n``-gram
    features, K one-vs-rest rational-logistic models, full-batch GD,
    MSE loss) at the 2^10..2^21 ``dim`` a deployed fastText-style model
    uses. It featurizes an Arrow batch straight from the hashed vector
    column (``X = cv / n_grams``, one-hot targets) for the shared
    trainer :func:`_train_gd`, where :func:`language_train_logreg`
    projects ``dim`` Catalyst feature columns first — compile-bound far
    below dim=1024. Rows with a null vector are skipped.

    Returns one row per (step, class): post-update ``bias``,
    ``w array<double>``, and that class's pre-update ``mse`` — the
    :func:`language_train_logreg` record, with the weight vector as
    an array instead of dim columns.
    """
    if not classes:
        raise ValueError("classes must be non-empty")
    # nt_column: reuse a precomputed gram count so callers can PRUNE
    # the text column before caching — at production dims the cached
    # vectors dominate memory and a dangling multi-KB text column per
    # row is pure waste (the sf100 OOM lesson). persist=False for the
    # same reason: when the caller already cached the pruned input,
    # a second cache of the same vectors above the driver cap would
    # double memory.
    with_vec, vec_column, nt = _char_vec(
        df, text_column, dim, n, vec_column, nt_column
    )
    K = len(classes)
    yi = F.lit(-1)
    for i, c in enumerate(classes):
        yi = F.when(F.col(label_column) == F.lit(c), F.lit(i)).otherwise(yi)
    data = with_vec.filter(F.col(vec_column).isNotNull()).select(
        yi.cast("int").alias("__yi__"),
        F.col(vec_column).alias("__cv__"),
        nt.alias("__nt__"),
    )
    hist = _train_gd(
        data, _vec_features(K, dim), [0.0] * K, [[0.0] * dim] * K,
        steps, lr, "language_train_logreg_vec", persist=persist,
    )
    return local_frame(
        df.sparkSession,
        [(step, classes[c], b, w, mse) for step, c, b, w, mse in hist],
        "step int, class string, bias double, w array<double>, "
        "mse double",
    )


def language_id_trained_vec(
    df: DataFrame,
    text_column: "Optional[str]",
    weights: "dict[str, tuple]",
    dim: int = 1024,
    n: int = 3,
    output_column: str = "lang_pred",
    und_margin: Optional[float] = None,
    vec_column: Optional[str] = None,
    nt_column: Optional[str] = None,
) -> DataFrame:
    """Serve a :func:`language_train_logreg_vec` model: one Arrow
    batch -> one ``X @ W.T`` matmul -> argmax (numpy argmax takes the
    FIRST maximum, matching the strictly-greater fold of
    :func:`language_id_trained`, so the two servers agree on ties),
    with the same ``und_margin`` low-confidence gate. The Catalyst
    server materializes K score expressions of dim+1 terms each —
    compile-bound at production dims; this one is a vectorized
    projection, no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not weights:
        raise ValueError("weights must be non-empty")
    classes = list(weights)
    Wm = np.array([list(weights[c][1]) for c in classes])
    bm = np.array([float(weights[c][0]) for c in classes])
    if Wm.shape != (len(classes), dim):
        raise ValueError(f"weights must be {len(classes)} x {dim}")
    drop_vec = vec_column is None
    with_vec, vec_column, nt = _char_vec(
        df, text_column, dim, n, vec_column, nt_column
    )
    margin = float(und_margin) if und_margin is not None else None
    names = np.array(classes, dtype=object)

    def _serve(cv, ntv):
        null_mask = cv.isna()
        out = np.empty(len(cv), dtype=object)
        if null_mask.all():
            return pd.Series(out)
        ok = ~null_mask
        X = np.stack(cv[ok].to_numpy()).astype(np.float64)
        X /= ntv[ok].to_numpy()[:, None]
        z = X @ Wm.T + bm
        best = z.argmax(axis=1)
        pred = names[best]
        if margin is not None and z.shape[1] > 1:
            part = np.partition(z, -2, axis=1)
            gap = part[:, -1] - part[:, -2]
            pred = np.where(gap < margin, "und", pred)
        out[np.nonzero(ok.to_numpy())[0]] = pred
        return pd.Series(out)

    _udf = pandas_udf(_serve, "string")
    scored = with_vec.withColumn(
        output_column, _udf(F.col(vec_column), nt)
    )
    return scored.drop(vec_column) if drop_vec else scored


def _quality_stats(text: Column):
    """Token array, token count, mean token length and punctuation
    ratio of ``text`` as Catalyst expressions — the base statistics of
    :func:`quality_score` and of the capped :func:`_quality_features`."""
    toks = _tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    mean_tok = F.when(
        n_tokens > 0, n_chars.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    punct_ratio = F.when(
        n_chars > 0, punct.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    return toks, n_tokens, mean_tok, punct_ratio


def _quality_features(text: Column) -> "list[Column]":
    """The three :func:`quality_logit` features as Catalyst expressions
    — shared by inference (:func:`quality_logit`) and training
    (:func:`quality_train_logreg`) so trained weights drop straight
    into the serving path. Order matches :data:`QUALITY_LOGIT_WEIGHTS`."""
    _, n_tokens, mean_tok, punct_ratio = _quality_stats(text)
    f1 = F.least(n_tokens, F.lit(100)).cast("double") / F.lit(100.0)
    f2 = F.least(mean_tok, F.lit(10.0)) / F.lit(10.0)
    return [f1, f2, punct_ratio]


def quality_score(
    df: DataFrame, text_column: str, output_column: str = "quality"
) -> DataFrame:
    """Composite quality heuristics per document:

    - n_chars, n_tokens, mean_token_len
    - punct_ratio: punctuation chars / chars
    - stopword_ratio: english stopword tokens / tokens
    - quality: 0..1 composite (long enough, not punctuation soup, has
      stopwords — the classic C4/Gopher-style filters, cheaply)
    """
    toks, n_tokens, mean_tok, punct_ratio = _quality_stats(
        F.col(text_column)
    )
    stop_hits = F.size(
        F.filter(
            F.transform(toks, lambda t: F.lower(t)),
            lambda t: t.isin(STOPWORDS["en"]),
        )
    )
    stop_ratio = F.when(
        n_tokens > 0, stop_hits.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio <= 0.3, 1.0).otherwise(0.4)
    tok_ok = F.when((mean_tok >= 2.0) & (mean_tok <= 12.0), 1.0).otherwise(0.5)
    score = length_ok * 0.4 + punct_ok * 0.3 + tok_ok * 0.3
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("mean_token_len", mean_tok)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn(output_column, score)
    )


#: Default linear quality-filter weights over the capped features
#: (tokens_capped, mean_tok_capped, punct_ratio).
QUALITY_LOGIT_WEIGHTS = {
    "tokens_capped": 2.5,
    "mean_tok_capped": 1.5,
    "punct_ratio": -4.0,
}


def quality_logit(
    df: DataFrame,
    text_column: str,
    weights: dict = None,
    bias: float = -1.0,
    output_column: str = "logit",
    keep_column: str = "keep",
) -> DataFrame:
    """Linear quality-classifier inference (the serving shape of a
    trained logreg/fastText quality filter) as a pure Catalyst
    expression — whole-stage codegen, no Python, no model runtime.

    Features (all rational arithmetic, no transcendentals, so any
    IEEE-754 engine replays the scores bit-for-bit):

    - ``tokens_capped``  = least(n_tokens, 100) / 100.0
    - ``mean_tok_capped`` = least(n_chars/n_tokens, 10) / 10.0
    - ``punct_ratio``    = punctuation chars / chars

    ``logit = bias + sum_i w_i * f_i``; ``keep = logit > 0``. Swap in
    the weights of a real trained filter via ``weights``/``bias``.
    """
    w = dict(QUALITY_LOGIT_WEIGHTS)
    w.update(weights or {})
    feats = _quality_features(F.col(text_column))
    logit = F.lit(float(bias))
    for name, f in zip(QUALITY_LOGIT_WEIGHTS, feats):
        logit = logit + F.lit(float(w[name])) * f
    return df.withColumn(output_column, logit).withColumn(
        keep_column, logit > F.lit(0.0)
    )


def document_fingerprint(
    df: DataFrame, text_column: str, output_column: str = "fingerprint"
) -> DataFrame:
    """64-bit fingerprint of the normalized document text (lowercase,
    punctuation stripped, whitespace collapsed) via xxhash64 — the cheap
    near-exact dedup key (normalization-equal docs collide)."""
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_column)), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return df.withColumn(output_column, F.xxhash64(normalized))


def winnow_fingerprints(
    df: DataFrame,
    text_column: str,
    k: int = 5,
    window: int = 4,
    output_column: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): hash every char ``k``-gram, slide a
    ``window``-wide window over the hash sequence, keep each window's
    minimum; the distinct selected values are the document's
    fingerprint set. Winnowing guarantees any shared substring of
    length >= ``k + window - 1`` yields at least one shared
    fingerprint — the local-dedup / plagiarism / contamination
    primitive that exact-hash and MinHash both miss.

    Adds ``output_column`` (sorted array<long> of distinct selected
    hashes; empty when the doc has fewer than ``window`` grams). Gram
    hash = first 60 bits of md5, so a SQL oracle replays the selection
    exactly (tie-breaks don't matter for the VALUE set). Arrow-batched
    kernel with a per-batch unique-shingle md5 cache (same rationale as
    MinHash signing); the sliding-window min is one numpy
    stride-view reduction per doc. The input is spread across cores
    first (the kernel costs ~1 us/char in one Python worker — a
    few-file scan would serialize it; spread_rows is a no-op on
    well-partitioned input, per the Arrow-kernel convention in
    SCALE.md).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..utils import spread_rows

    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    df = spread_rows(df)

    def _fp_fn(texts):
        md5 = hashlib.md5
        cache = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            n = len(t) - k + 1
            if n < window:
                out.append(np.array([], dtype=np.int64))
                continue
            hs = np.empty(n, dtype=np.int64)
            for i in range(n):
                s = t[i : i + k]
                v = cache.get(s)
                if v is None:
                    v = int(md5(s.encode("utf-8")).hexdigest()[:15], 16)
                    cache[s] = v
                hs[i] = v
            mins = np.lib.stride_tricks.sliding_window_view(
                hs, window
            ).min(axis=1)
            out.append(np.unique(mins))
        return pd.Series(out)

    # Nondeterministic marking stops the optimizer duplicating the
    # kernel below filters inferred from a downstream explode (the
    # guide's BatchEvalPython-duplication hazard); values unchanged.
    _udf = pandas_udf(_fp_fn, "array<long>").asNondeterministic()
    return df.withColumn(output_column, _udf(F.col(text_column)))


def char_entropy(
    df: DataFrame, text_column: str, output_column: str = "char_entropy"
) -> DataFrame:
    """Shannon entropy (bits/char) of each document's character
    distribution — the classic cheap gibberish detector: natural text
    sits ~3.5-4.5 bits, repeated-character spam collapses toward 0,
    random bytes push toward 8. Null text -> null; empty -> 0.0.

    Arrow-batched numpy kernel (one bincount per doc); entropy terms
    are accumulated over the SORTED distinct characters so a SQL oracle
    summing `list_sort(list_distinct(...))` order reproduces the float
    result (rounded to 6 decimals in the driver query).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _ent_fn(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            if not t:
                out.append(0.0)
                continue
            # np.unique sorts — matching the oracle's accumulation order
            _, counts = np.unique(list(t), return_counts=True)
            p = counts.astype(np.float64) / len(t)
            out.append(float(-(p * np.log2(p)).sum()))
        return pd.Series(out, dtype="float64")

    # Deterministic on purpose: a scalar output can never infer the
    # explode size()>0 filter that duplicates array kernels, and the
    # nondeterministic flag would block filter pushdown below the
    # kernel (measured as a real regression on the doc-vector twin).
    _udf = pandas_udf(_ent_fn, "double")
    return df.withColumn(output_column, _udf(F.col(text_column)))


def canonicalize_urls(
    df: DataFrame,
    url_column: str,
    canon_column: str = "url_canon",
    host_column: str = "host",
    domain_column: str = "registered_domain",
) -> DataFrame:
    """URL canonicalization — the first dedup key of every crawl
    pipeline (Common Crawl dedups by canonical URL before any content
    pass). Deterministic normalization steps, in order: lowercase,
    strip fragment, strip scheme, strip a leading ``www.``, drop
    ``utm_*`` tracking params (re-attaching ``?`` to the first
    surviving param), strip trailing ``?``/``&`` and trailing slashes.
    Adds the canonical URL, the host, and the naive registered domain
    (last two dot-labels of the host — a public-suffix list upgrade
    slots in here).

    Pure Catalyst regexp chain: codegen, zero shuffles; every step is
    reproducible in any regex engine without lookaround or backrefs
    (except the documented ``$1``/``\\1`` re-attachment step, which the
    SQL oracle mirrors in DuckDB syntax).
    """
    u = F.lower(F.trim(F.col(url_column)))
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"[?&]utm_[a-z0-9_]*=[^&]*", "")
    # if utm removal ate the '?', promote the first surviving '&'
    # (anchored pattern -> exactly one replacement; $1 is Java-regex
    # syntax, the DuckDB oracle uses \1)
    u = F.when(
        ~u.contains("?") & u.contains("&"),
        F.regexp_replace(u, r"^([^&]*)&", r"$1?"),
    ).otherwise(u)
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"/+\?", "?")  # path-trailing slash
    u = F.regexp_replace(u, r"/+$", "")
    out = df.withColumn(canon_column, u)
    host = F.regexp_extract(F.col(canon_column), r"^([^/?]+)", 1)
    out = out.withColumn(host_column, host)
    return out.withColumn(
        domain_column,
        F.regexp_extract(F.col(host_column), r"([a-z0-9-]+\.[a-z]+)$", 1),
    )


def hashed_doc_vectors(
    df: DataFrame,
    text_column: str,
    dim: int = 64,
    output_column: str = "doc_vec",
    signed: bool = True,
) -> DataFrame:
    """Feature-hashing (hashing trick) document vectors: each
    whitespace token hashes to a slot (``h % dim``) with a sign bit
    (``(h // dim) % 2``, Weinberger et al.'s signed variant so hash
    collisions cancel in expectation instead of accumulating; pass
    ``signed=False`` for plain non-negative counts — e.g. when a zero
    vector must be impossible for cosine math); the doc
    vector is the signed token-count array (``array<long>`` — integer,
    so exactly SQL-replayable). Empty/blank docs get the zero vector;
    null docs get null.

    This is the no-model text->vector bridge: the output column feeds
    the embedding operators (k-means, semantic dedup, ANN indexes,
    quantization) when no learned embeddings exist. Arrow-batched
    kernel, one md5 per unique token per batch (cached); no shuffle —
    the per-(doc, slot) groupBy formulation costs two shuffles and
    carries doc x slot rows, this is a pure projection.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if dim < 1:
        raise ValueError("dim must be >= 1")

    def _vec_fn(texts):
        md5 = hashlib.md5
        cache = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            vec = np.zeros(dim, dtype=np.int64)
            for tok in t.split():
                sv = cache.get(tok)
                if sv is None:
                    h = int(md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                    sv = (
                        h % dim,
                        (1 - 2 * ((h // dim) % 2)) if signed else 1,
                    )
                    cache[tok] = sv
                vec[sv[0]] += sv[1]
            out.append(vec)
        return pd.Series(out)

    # Deterministic on purpose: no caller explodes the vector (it is
    # indexed or consumed whole), so the explode-inferred size()>0
    # duplication hazard does not apply, and the nondeterministic flag
    # blocks id-filter pushdown below the kernel — compositions that
    # vectorize a corpus once and then slice query/centroid subsets
    # (chunk_vector_topk) measured 3.9 -> 5.1 s with the flag on.
    _udf = pandas_udf(_vec_fn, "array<long>")
    # Per-token python hashing is the expensive part — make sure a
    # single-file scan doesn't serialize it on one core (no-op on wide
    # scans; see utils.spread_rows).
    from ..utils import spread_rows

    return spread_rows(df).withColumn(output_column, _udf(F.col(text_column)))


def tfidf_top_terms(
    df: DataFrame,
    text_column: str,
    id_column: str,
    k: int = 5,
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF:
    ``score = tf * (ln((N+1)/(df_t+1)) + 1)``.

    Returns (id, term, tf, df_t, score, rank) with rank 1..k per doc.
    Plan shape: explode tokens -> one shuffle for per-(doc, term) counts
    -> one shuffle for document frequencies (term dimension; AQE
    broadcasts it when small) -> single-row broadcast of N -> window
    top-k partitioned by document. Ranking uses round(score, 6) with a
    term tie-break so the ordering is insensitive to last-ulp ln()
    differences across engines (same trick as the ANN top-k ranking).
    """
    from pyspark.sql import Window

    toks = _tokens(F.lower(F.col(text_column)))
    ex = df.select(F.col(id_column), F.explode(toks).alias("term"))
    tf = ex.groupBy(id_column, "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf is already distinct per (doc, term): plain count = doc frequency.
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs") + F.lit(1)).cast("double")
                    / (F.col("df_t") + F.lit(1)).cast("double")
                )
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(id_column).orderBy(
        F.round(F.col("score"), 6).desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_column, "term", "tf", "df_t", "score", "rank")
    )


def top_ngrams(
    df: DataFrame,
    text_column: str,
    n: int = 5,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-``k`` most frequent word ``n``-grams — the
    boilerplate-mining pass that feeds span-dedup blocklists.

    Returns (ngram, count, rank), rank 1..k, ties broken by the gram
    itself so the result is deterministic across engines and runs.

    Scale: explode is a projection; the count is one partial-aggregated
    shuffle on the gram; the global top-k compiles to Spark's
    TakeOrderedAndProject (per-partition heaps of k, merged on the
    driver) — no global sort, no single-task bottleneck. Token-level
    heavy hitters (a gram present in half the corpus) are precisely
    what map-side combine flattens.
    """
    if n < 1 or k < 1:
        raise ValueError("n and k must be >= 1")
    # Bind the token array to a column BEFORE the higher-order lambda:
    # slicing the raw split/filter expression would re-tokenize the
    # document once per gram (O(tokens^2) string work, measured ~6x).
    tk = F.col("__tk__")
    toked = df.select(_tokens(F.col(text_column)).alias("__tk__"))
    grams = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        toked.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    from ..utils import top_k

    return top_k(counts, [F.desc("count"), F.asc("ngram")], k, "rank")


def normalize_text(
    df: DataFrame,
    text_column: str,
    output_column: str = "text_norm",
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
    unify_quotes: bool = True,
) -> DataFrame:
    """CCNet/C4-style text normalization: the cleanup every crawl
    pipeline applies before hashing/dedup so cosmetic byte differences
    (curly vs straight quotes, NBSP vs space, stray control chars,
    run-on whitespace, case) don't defeat exact and near dedup.

    Steps (each toggleable, applied in this order):

    1. ``strip_control``: remove C0/C1 control characters except
       tab/newline (which the whitespace step handles).
    2. ``unify_quotes``: curly single/double quotes and prime marks ->
       ASCII ``'`` / ``"``; en/em dashes -> ``-``; ellipsis -> ``...``;
       NBSP and unicode space separators -> space.
    3. ``lowercase``.
    4. ``collapse_whitespace``: any whitespace run -> one space, then
       trim.

    Pure Catalyst ``translate``/``regexp_replace`` chain — codegen,
    zero shuffles, and every mapping is reproducible in any regex
    engine (no lookaround, no character-class shorthand beyond \\s).
    """
    col = F.col(text_column)
    if strip_control:
        col = F.regexp_replace(
            col, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""
        )
    if unify_quotes:
        # Char-for-char map (F.translate): 4 single-quote variants,
        # 4 double-quote variants, 2 dashes, 3 unicode spaces
        # (NBSP, narrow NBSP, thin space).
        src_chars = (
            "\u2018\u2019\u201a\u2032"
            "\u201c\u201d\u201e\u2033"
            "\u2013\u2014\u00a0\u202f\u2009"
        )
        dst_chars = "''''" + '""""' + "--" + "   "
        col = F.translate(col, src_chars, dst_chars)
        col = F.regexp_replace(col, "\u2026", "...")
    if lowercase:
        col = F.lower(col)
    if collapse_whitespace:
        col = F.trim(F.regexp_replace(col, "\\s+", " "))
    return df.withColumn(output_column, col)


def _cp1252_printable_pairs() -> tuple:
    """The 27 windows-1252 printables in 0x80-0x9F paired with their C1
    control twins (the Unicode char whose code point equals the cp1252
    byte). Derived from Python's codec tables at import so the mapping
    can't drift from the standard."""
    src = []
    dst = []
    for b in range(0x80, 0xA0):
        try:
            src.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            continue  # 0x81/0x8D/0x8F/0x90/0x9D are undefined in cp1252
        dst.append(chr(b))
    return "".join(src), "".join(dst)


#: windows-1252 printables (e.g. curly quotes, em dash, euro) and the
#: C1 control chars occupying the same byte values in latin-1.
CP1252_PRINTABLE, CP1252_CONTROL = _cp1252_printable_pairs()


def fix_mojibake(
    df: DataFrame,
    text_column: str,
    output_column: str = "text_fixed",
    flag_column: Optional[str] = None,
    passes: int = 1,
) -> DataFrame:
    """Repair UTF-8-misdecoded-as-windows-1252/latin-1 text (mojibake —
    ``CafÃ©`` -> ``Café``), the single most common encoding defect in
    crawl corpora (ftfy's core fix, re-expressed as Catalyst codegen).

    The corruption model is the WHATWG windows-1252 decode browsers and
    crawlers apply to mislabeled bytes: every UTF-8 byte becomes one
    char — printables from the cp1252 table for 0x80-0x9F, the C1
    control char for the five undefined bytes, latin-1 for the rest.
    The repair inverts it byte-exactly, JVM-side, zero shuffles:

    1. fold the 27 cp1252 printables back to their C1 control twins
       (one fixed ``translate`` — after this, every char's code point
       IS its original byte value);
    2. re-encode as ISO-8859-1 (char -> byte, total on [0,255]);
    3. ``is_valid_utf8`` gate + decode as UTF-8.

    A row is only touched when (a) it contains a char in U+00C2-U+00F4
    — the exact lead-byte range of well-formed multi-byte UTF-8, the
    shapes mojibake always exhibits (``Ã``, ``â`` ...); (b) every char
    AFTER the fold is <= U+00FF (so step 2 is total — rows with real
    CJK/emoji are never candidates, while the high-code-point cp1252
    printables themselves fold down first and stay repairable); and
    (c) the refolded bytes are VALID UTF-8.
    Clean latin-1 text fails (c) (``é`` followed by a space is an
    illegal continuation), so accented European text survives
    untouched; text that passes all three gates is mojibake by
    construction up to the inherent ftfy ambiguity (a latin-1 document
    that deliberately spells ``Ã©`` is indistinguishable from corrupted
    ``é`` — documented, vanishingly rare in practice).

    ``passes`` > 1 unrolls the chain to also repair double-encoded
    mojibake (``CafÃƒÂ©``), each pass gated independently so a
    once-corrupted row converges after one pass and stays fixed.

    Returns ``df`` with ``output_column`` (and, if ``flag_column`` is
    given, a boolean marking rows any pass changed). Pure Catalyst:
    the whole chain runs inside whole-stage codegen at scan speed —
    the 100 TB posture is "free with the first read".
    """
    if passes < 1:
        raise ValueError("passes must be >= 1")
    col = F.col(text_column)
    touched = F.lit(False)
    for _ in range(int(passes)):
        folded = F.translate(col, CP1252_PRINTABLE, CP1252_CONTROL)
        refolded = F.encode(folded, "ISO-8859-1")
        candidate = (
            col.rlike("[Â-ô]")
            & ~folded.rlike("[^\\x00-\\u00ff]")
            & F.is_valid_utf8(refolded)
        )
        touched = touched | candidate
        col = F.when(candidate, F.decode(refolded, "UTF-8")).otherwise(col)
    out = df.withColumn(output_column, col)
    if flag_column is not None:
        # coalesce: NULL text makes every gate NULL (rlike(NULL) is
        # NULL), and NULL is neither true nor false — consumers that
        # count or group by the flag need a real False for NULL rows.
        out = out.withColumn(
            flag_column,
            F.coalesce(
                touched & (F.col(output_column) != F.col(text_column)),
                F.lit(False),
            ),
        )
    return out


# --- HTML -> text extraction (crawl-pipeline stage 0) -----------------------

#: Elements whose CONTENT is dropped along with the tags (non-prose
#: containers). One regexp_replace per tag keeps every pattern free of
#: backreferences, so the exact chain replays in RE2 engines (DuckDB)
#: as well as Java regex.
HTML_CONTAINER_TAGS = (
    "script", "style", "noscript", "template", "svg", "iframe", "head",
)

#: Tags that delimit text blocks: each becomes a newline so paragraph
#: structure survives extraction (jusText/CCNet segment on these too).
HTML_BLOCK_TAGS = (
    "html|body|p|div|br|hr|li|ul|ol|dl|dt|dd|h1|h2|h3|h4|h5|h6|tr|td|th"
    "|table|thead|tbody|tfoot|caption|blockquote|pre|section|article"
    "|header|footer|nav|aside|main|form|fieldset|figure|figcaption"
    "|address|details|summary|option|select"
)

#: Core named/numeric entities decoded JVM-side (string replace chain).
#: Order matters: ``&amp;`` LAST gives single-pass unescape semantics —
#: ``&amp;lt;`` decodes to the literal ``&lt;``, exactly like
#: ``html.unescape``. ``&nbsp;`` maps to a plain space (the whitespace
#: pass would merge it anyway; U+00A0 would survive as a distinct byte).
HTML_CORE_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&#34;", '"'),
    ("&ndash;", "–"),
    ("&mdash;", "—"),
    ("&hellip;", "…"),
    ("&copy;", "©"),
    ("&reg;", "®"),
    ("&trade;", "™"),
    ("&amp;", "&"),
)


def html_extract(
    df: DataFrame,
    html_column: str,
    output_column: str = "text_extracted",
    entities: str = "core",
) -> DataFrame:
    """HTML/boilerplate-to-text extraction — the first stage of a crawl
    pipeline (CCNet/C4 start FROM extracted text; this produces it).

    Pure Catalyst regexp/replace chain (whole-stage codegen, zero
    shuffles, no Python in the hot path), deliberately restricted to
    RE2-compatible patterns (no backreferences, no lookaround) so the
    exact transformation replays in DuckDB/Trino for verification:

    1. comments ``<!-- -->`` (and an unterminated trailing comment)
       drop; CDATA wrappers drop, keeping the inner text;
    2. non-prose container elements (:data:`HTML_CONTAINER_TAGS`) drop
       WITH their content — unterminated ones drop to end-of-string, so
       a malformed ``<script>`` can never leak code into the text;
    3. block-level tags (:data:`HTML_BLOCK_TAGS`) become newlines —
       paragraph structure survives for line-level cleaning
       (:func:`c4_line_filter`);
    4. every remaining tag (and an unterminated trailing ``<tag``)
       becomes a space; a bare ``<`` between words ("5 < 6") survives,
       matching standard extractor behavior;
    5. entity decode: ``entities="core"`` decodes
       :data:`HTML_CORE_ENTITIES` JVM-side (``&amp;`` last = one-pass
       semantics); ``entities="full"`` runs ``html.unescape`` in ONE
       Arrow-batched kernel (numeric ``&#x2603;`` etc.) — the only
       non-Catalyst option; ``entities="none"`` skips decoding;
    6. whitespace: runs containing a newline collapse to one newline,
       horizontal runs to one space, leading/trailing whitespace drops.

    Attributes containing ``>`` (``title="a>b"``) split the tag early —
    the standard, documented limitation of every regex-based extractor;
    the malformed-input guarantee is "text out, never a crash".
    """
    if entities not in ("core", "full", "none"):
        raise ValueError(f"unknown entities mode {entities!r}")
    col = F.col(html_column)
    col = F.regexp_replace(col, r"(?s)<!--.*?-->", " ")
    col = F.regexp_replace(col, r"(?s)<!--.*\z", " ")
    col = F.regexp_replace(col, r"(?s)<!\[CDATA\[(.*?)\]\]>", " $1 ")
    for tag in HTML_CONTAINER_TAGS:
        col = F.regexp_replace(
            col, rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " "
        )
        col = F.regexp_replace(col, rf"(?is)<{tag}\b[^>]*>.*\z", " ")
    col = F.regexp_replace(
        col, rf"(?is)</?(?:{HTML_BLOCK_TAGS})\b[^>]*>", "\n"
    )
    col = F.regexp_replace(col, r"(?s)<[a-zA-Z/!?][^>]*>", " ")
    col = F.regexp_replace(col, r"(?s)<[a-zA-Z/!?][^>]*\z", " ")
    if entities == "core":
        for src, dst in HTML_CORE_ENTITIES:
            col = F.replace(col, F.lit(src), F.lit(dst))
    out = df.withColumn(output_column, col)
    if entities == "full":
        out = _arrow_unescape(out, output_column)
    col = F.col(output_column)
    col = F.regexp_replace(col, r"\s*\n\s*", "\n")
    col = F.regexp_replace(col, r"[^\S\n]+", " ")
    col = F.regexp_replace(col, r"^\s+|\s+$", "")
    return out.withColumn(output_column, col)


def _arrow_unescape(df: DataFrame, column: str) -> DataFrame:
    """Full entity decode (named + numeric) via one Arrow-batched pass
    of ``html.unescape`` — the slow-path option for corpora where the
    core JVM-side entity set isn't enough."""
    import html

    import pandas as pd

    schema = df.schema

    def fn(batches):
        for pdf in batches:
            pdf[column] = pd.Series(
                [
                    html.unescape(v) if isinstance(v, str) else v
                    for v in pdf[column]
                ],
                index=pdf.index,
                dtype="object",
            )
            yield pdf

    return df.mapInPandas(fn, schema)


def c4_line_filter(
    df: DataFrame,
    text_column: str,
    output_column: str = "text_clean",
    min_words: int = 3,
    drop_substrings: tuple = ("javascript", "lorem ipsum", "{"),
    require_terminal: bool = False,
    min_kept_lines: int | None = None,
) -> DataFrame:
    """C4-style line-level boilerplate cleaning over extracted text
    (public heuristics from the C4 paper): keep lines with at least
    ``min_words`` whitespace words, drop lines containing any of
    ``drop_substrings`` (case-insensitive), optionally require terminal
    punctuation; ``min_kept_lines`` (page-level rule, C4 uses 3
    sentences) drops documents left with fewer lines.

    Spark higher-order functions (split / filter / array_join) — pure
    JVM, no UDF, no shuffle; adds ``output_column`` and
    ``n_kept_lines``.
    """

    def _keep(line: Column) -> Column:
        t = F.trim(line)
        words = F.filter(F.split(t, " +"), lambda w: w != F.lit(""))
        cond = F.size(words) >= int(min_words)
        low = F.lower(t)
        for s in drop_substrings:
            cond = cond & ~low.contains(s.lower())
        if require_terminal:
            cond = cond & t.rlike('[.!?"”]$')
        return cond

    kept = F.filter(F.split(F.col(text_column), "\n"), _keep)
    out = df.withColumn(output_column, F.array_join(kept, "\n")).withColumn(
        "n_kept_lines", F.size(kept)
    )
    if min_kept_lines is not None:
        out = out.filter(F.col("n_kept_lines") >= int(min_kept_lines))
    return out


def quality_train_logreg(
    df: DataFrame,
    text_column: str,
    label_column: str,
    steps: int = 3,
    lr: float = 1.0,
    init: tuple = (0.0, 0.0, 0.0, 0.0),
) -> DataFrame:
    """In-engine quality-classifier TRAINING: full-batch gradient
    descent on a squashed linear model over the same three features
    :func:`quality_logit` serves, so the trained ``(bias, w1, w2, w3)``
    drop directly into the inference path
    (``quality_logit(df, col, weights={...}, bias=...)``).

    Trained by the shared GD trainer :func:`_train_gd` (its docstring
    carries the distributed-GD and engine-portability rationale) with
    one numeric target starting from ``init``: weights live on the
    driver (4 floats), and each step is one kernel over the three
    projected feature columns.

    Returns one row per step: ``step`` (1-based), the POST-update
    weights ``bias, w_tokens, w_mean_tok, w_punct``, and ``mse``
    measured BEFORE the update (so step 1's mse is the init loss).
    """
    feats = _quality_features(F.col(text_column))
    data = df.select(
        F.col(label_column).cast("double").alias("__y0__"),
        *[f.alias(f"__x{j}__") for j, f in enumerate(feats)],
    )
    hist = _train_gd(
        data, _column_features(1), [float(init[0])],
        [[float(v) for v in init[1:4]]], steps, lr, "quality_train_logreg",
    )
    return local_frame(
        df.sparkSession,
        [(step, b, *w, mse) for step, _, b, w, mse in hist],
        "step int, bias double, w_tokens double, w_mean_tok double, "
        "w_punct double, mse double",
    )


def split_sentences(
    df: DataFrame,
    text_column: str,
    output_column: str = "sentences",
    count_column: str = "n_sentences",
) -> DataFrame:
    """Rule-based sentence segmentation: a sentence ends at ``. ! ?``
    followed by whitespace (the C4/CCNet page rules count sentences,
    not lines). Keeps the terminal punctuation with its sentence via a
    portable two-step — rewrite ``([.!?])\\s+`` to ``$1<RS>`` (RS =
    U+001E record separator) then split on RS — because the natural
    lookbehind split ``(?<=[.!?])\\s+`` is not RE2-expressible and
    this chain must replay in DuckDB. Any U+001E already present in
    the input is stripped first so the in-band sentinel can never
    collide with data (control chars have no sentence semantics).
    Blank text gets an empty array. Pure Catalyst; codegen; zero
    shuffles."""
    rs = "\x1e"
    t = F.regexp_replace(F.trim(F.col(text_column)), rs, "")
    marked = F.regexp_replace(t, r"([.!?])\s+", "$1" + rs)
    arr = F.filter(
        F.split(marked, rs), lambda s: F.trim(s) != F.lit("")
    )
    return df.withColumn(output_column, arr).withColumn(
        count_column, F.size(F.col(output_column))
    )


def html_metadata(
    df: DataFrame,
    html_column: str,
    prefix: str = "html_",
) -> DataFrame:
    """Structured page metadata alongside :func:`html_extract` — the
    fields a crawl pipeline keys on before it ever reads body text:

    - ``<prefix>title``: first ``<title>`` content (entity-decoded via
      the core set, whitespace-collapsed); null when absent.
    - ``<prefix>lang``: the ``lang`` attribute of the ``<html>`` tag.
    - ``<prefix>canonical``: href of ``<link rel="canonical">``.
    - ``<prefix>noindex``: true when a ``<meta name="robots">`` content
      lists ``noindex`` (the politeness gate: such pages are dropped
      before extraction).

    Pure Catalyst ``regexp_extract`` chain, RE2-portable (no
    lookaround, no backreferences), codegen, zero shuffles. Attribute
    order is handled for the common layouts (rel before or after href;
    name before content); exotic orderings degrade to null, never to a
    crash.
    """
    col = F.col(html_column)
    title = F.regexp_extract(col, r"(?is)<title\b[^>]*>([^<]*)</title", 1)
    for src, dst in HTML_CORE_ENTITIES:
        title = F.replace(title, F.lit(src), F.lit(dst))
    title = F.trim(F.regexp_replace(title, r"\s+", " "))
    lang = F.regexp_extract(
        col, r"""(?is)<html\b[^>]*\blang\s*=\s*["']?([a-zA-Z-]+)""", 1
    )
    canon = F.coalesce(
        F.nullif(
            F.regexp_extract(
                col,
                r"""(?is)<link\b[^>]*\brel\s*=\s*["']?canonical["']?"""
                r"""[^>]*\bhref\s*=\s*["']([^"']*)""",
                1,
            ),
            F.lit(""),
        ),
        F.nullif(
            F.regexp_extract(
                col,
                r"""(?is)<link\b[^>]*\bhref\s*=\s*["']([^"']*)["']"""
                r"""[^>]*\brel\s*=\s*["']?canonical""",
                1,
            ),
            F.lit(""),
        ),
    )
    robots = F.regexp_extract(
        col,
        r"""(?is)<meta\b[^>]*\bname\s*=\s*["']?robots["']?"""
        r"""[^>]*\bcontent\s*=\s*["']([^"']*)""",
        1,
    )
    noindex = F.lower(robots).contains("noindex")
    return (
        df.withColumn(prefix + "title", F.nullif(title, F.lit("")))
        .withColumn(prefix + "lang", F.nullif(lang, F.lit("")))
        .withColumn(prefix + "canonical", canon)
        .withColumn(prefix + "noindex", noindex)
    )


#: Unicode script classes for :func:`script_profile` — each a regex
#: character class (BMP ranges, RE2-portable) and a column suffix.
SCRIPT_CLASSES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "\\u0400-\\u04ff"),
    ("cjk", "\\u3040-\\u30ff\\u4e00-\\u9fff\\uac00-\\ud7af"),
    ("arabic", "\\u0600-\\u06ff"),
    ("digit", "0-9"),
)


def script_profile(
    df: DataFrame,
    text_column: str,
    prefix: str = "script_",
) -> DataFrame:
    """Per-document Unicode-script character profile — the standard
    check that a doc's script matches its claimed language (a 'en' doc
    that is 80% CJK is mislabeled; CCNet-style pipelines gate on this
    before the language-ID model ever runs).

    Adds ``<prefix><name>`` counts for each :data:`SCRIPT_CLASSES`
    entry plus ``<prefix>other`` (non-whitespace chars in no class)
    and ``<prefix>main`` — the argmax class name ('none' for blank
    text, ties broken by class order). Counting is
    ``length(x) - length(regexp_replace(x, '[class]', ''))`` — pure
    Catalyst codegen, zero shuffles, replayable in any regex engine
    with BMP escapes."""
    text = F.col(text_column)
    total_len = F.length(text)
    counts = {}
    for name, cls in SCRIPT_CLASSES:
        counts[name] = total_len - F.length(
            F.regexp_replace(text, f"[{cls}]", "")
        )
    all_cls = "".join(cls for _, cls in SCRIPT_CLASSES)
    # chars in NO class, minus whitespace = "other" (punctuation,
    # symbols, unclassified scripts)
    nonclass = F.length(F.regexp_replace(text, f"[{all_cls}]", ""))
    ws = total_len - F.length(F.regexp_replace(text, r"\s", ""))
    other = nonclass - ws
    out = df
    for name, _ in SCRIPT_CLASSES:
        out = out.withColumn(prefix + name, counts[name])
    out = out.withColumn(prefix + "other", other)
    # argmax by class order: fold a (count, name) struct comparison
    best = F.struct(
        F.col(prefix + SCRIPT_CLASSES[0][0]).alias("c"),
        F.lit(SCRIPT_CLASSES[0][0]).alias("n"),
    )
    for name, _ in SCRIPT_CLASSES[1:]:
        cand = F.struct(
            F.col(prefix + name).alias("c"), F.lit(name).alias("n")
        )
        best = F.when(cand["c"] > best["c"], cand).otherwise(best)
    out = out.withColumn(
        prefix + "main",
        F.when(best["c"] > 0, best["n"]).otherwise(F.lit("none")),
    )
    return out


def bm25_topk(
    df: DataFrame,
    text_column: str,
    id_column: str,
    queries: "list[tuple]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 lexical retrieval — the classic sparse baseline next to the
    embedding ANN family: top-``k`` documents per query with Robertson/
    Sparck-Jones idf and tf saturation.

    ``queries``: a small list of ``(query_id, query_text)`` pairs
    (the driver-side query set — broadcast, never shuffled). Scoring:

        idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(q,d)= sum over t in q of
                    idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

    Plan shape (term-keyed, corpus-scale-safe): per-doc token counts
    come from ``size()`` on the token array — no explode, no shuffle —
    and only tokens that appear in some query survive into the explode
    that feeds the tf aggregation, so the tf shuffle carries a handful
    of query-term rows instead of the whole vocabulary (document
    frequencies aggregate from that same filtered tf frame: for the
    scored terms they equal the full-vocabulary counts row for row).
    The query-term table is a broadcast join; ranking runs per-query
    over the candidate set (window partitioned by query_id — never a
    global sort). Whitespace tokens, lowercased; duplicate terms
    within a query contribute once per occurrence (standard bag
    semantics). Output: (query_id, doc_id renamed from ``id_column``,
    score, rank), ties broken by ascending doc id. Scores are rounded
    to 6 decimals BEFORE ranking so rank order is reproducible across
    engines (the ann_*_topk convention)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("queries must be a non-empty list of (id, text)")
    spark = df.sparkSession
    qrows = []
    for qid, qtext in queries:
        for term in str(qtext).lower().split():
            qrows.append((qid, term))
    qset = sorted({t for _, t in qrows})
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_column))), r"\s+"),
        lambda t: t != "",
    )
    keep = (lambda t: t.isin(qset)) if qset else (lambda t: F.lit(False))
    # One tokenize pass feeds both the corpus stats collect and the tf
    # aggregation — persist the narrow per-doc frame (id, token count,
    # surviving query-term tokens), not a full-vocabulary tf table.
    base = (
        df.select(F.col(id_column).alias("__doc__"), toks.alias("__toks__"))
        .select(
            "__doc__",
            F.size("__toks__").alias("dl"),
            F.filter("__toks__", keep).alias("__qtoks__"),
        )
        .filter(F.col("dl") > 0)
        .persist()
    )
    n_docs, avgdl = base.agg(F.count(F.lit(1)), F.avg("dl")).collect()[0]
    if not n_docs:
        base.unpersist()
        raise ValueError(
            "bm25_topk: corpus has no documents with at least one token "
            "(empty or all-blank text column) — nothing to score"
        )
    # dl rides the tf groupBy key (functionally dependent on __doc__),
    # so no per-doc length join is needed downstream.
    tf = (
        base.select("__doc__", "dl", F.explode("__qtoks__").alias("__term__"))
        .groupBy("__doc__", "dl", "__term__")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("__term__").agg(
        F.count(F.lit(1)).alias("df")
    )
    qterms = F.broadcast(
        local_frame(spark, qrows, "query_id string, __term__ string")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") / (
        F.col("tf")
        + F.lit(float(k1))
        * (
            F.lit(1.0 - float(b))
            + F.lit(float(b)) * F.col("dl") / F.lit(float(avgdl))
        )
    )
    scored = (
        tf.join(qterms, "__term__")
        .join(F.broadcast(dfreq), "__term__")
        .groupBy("query_id", "__doc__")
        .agg(F.round(F.sum(idf * norm), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("__doc__")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .withColumnRenamed("__doc__", id_column)
        .select("query_id", id_column, "score", "rank")
    )

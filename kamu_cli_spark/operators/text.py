"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, fingerprinting.

All expressions are built-in `pyspark.sql.functions` (JVM-side,
whole-stage codegen) — no Python UDFs in the hot path. Each operator is
a column-expression factory or a DataFrame transformer, so Catalyst can
push filters below them and prune columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kamu_cli_spark.operators.util import pin

# Tiny per-language stopword anchors for the n-gram/stopword heuristic
# language ID. Deliberately small + deterministic — the point is the
# *operator shape* (scales linearly, no shuffle); swap in fastText etc.
# via pandas_udf for production quality.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "de", "la", "que", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty-string safe)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-style token estimate: letter runs, single digits, and
    individual punctuation each count as one token — the cheap
    JVM-regex proxy for a BPE tokenizer's count (real tokenizers plug
    in via pandas_udf when the library is available)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(F.length(text) > 0, punct / F.length(text)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English, by default) stopwords."""
    sw = stopwords or LANG_MARKERS["en"] + ["a", "in", "that", "it", "for"]
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    n = F.size(toks)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, has stopword mass (prose-ness). Mirrors the usual LLM-corpus
    filters (C4-style) as one JVM expression."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5)
    sw_score = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return F.round((len_score + punct_penalty + sw_score) / 3.0, 4)


def _in_set(words: list[str]):
    # NB: F.filter passes (element, index) to two-argument lambdas, so
    # the marker list must be bound via a closure factory, not a default
    # argument.
    return lambda t: t.isin(words)


def _argmax_lang(ltoks: Column) -> Column:
    """Argmax over per-language marker hits as ONE array_max of
    (hits, -index, lang) structs — linear expression size. The previous
    nested-when formulation embedded the running best twice per
    language, growing the expression tree (and driver build time)
    exponentially in the language count. Struct comparison is
    lexicographic, so ties on hits resolve to the smallest index =
    earliest language code, identical to the strict-greater chain."""
    entries = []
    for idx, (lang, markers) in enumerate(sorted(LANG_MARKERS.items())):
        h = F.size(F.filter(ltoks, _in_set(markers)))
        entries.append(
            F.struct(
                h.alias("h"), F.lit(-idx).alias("ni"), F.lit(lang).alias("l")
            )
        )
    best = F.array_max(F.array(*entries))
    return F.when(best["h"] > 0, best["l"]).otherwise(F.lit("und"))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: count marker-token hits per language, take
    the argmax (ties broken by language code order). Linear scan, no
    shuffle, fully codegen'd."""
    return _argmax_lang(tokens(F.lower(text)))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of case-folded,
    whitespace-collapsed text — the cheap exact-dup key.

    Collapse (ASCII ``\\s+``) runs BEFORE the trim, and the trim strips
    ASCII spaces only: Spark's trim is ASCII-space-only while DuckDB's
    strips Unicode whitespace, so trimming the raw text first would
    fingerprint U+00A0-edged documents differently across engines (the
    oracle uses ``trim(x, ' ')`` for the same reason)."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(normalized)


def text_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard per-document metric columns.

    Staged so the expensive regex splits run ONCE per row: stage 1
    materializes the token arrays and raw ratios as columns, stage 2
    binds the argmax-language struct, stage 3 derives every metric
    (Catalyst doesn't reliably CSE repeated split/regexp calls across
    independent expressions).

    Built from STRING SQL expressions (the round-6 CDC trick): the
    Column-object form cost ~1,300 py4j round trips ≈ 0.4 s of driver
    time per plan build (profiled round 7). Double literals carry the
    `D` suffix — a bare `100.0` parses as DECIMAL and would change the
    division/rounding semantics vs the Column form's double.
    """
    from kamu_cli_spark.operators.util import spread, sql_ident, sql_str as _sql_str

    t = sql_ident(text_col)
    sw = LANG_MARKERS["en"] + ["a", "in", "that", "it", "for"]
    sw_list = ", ".join(_sql_str(w) for w in sw)

    toks = rf"filter(split(trim({t}), '\\s+'), t -> t != '')"
    ltoks = rf"filter(split(trim(lower({t})), '\\s+'), t -> t != '')"
    praw = (
        rf"CASE WHEN length({t}) > 0 THEN "
        rf"length(regexp_replace({t}, '[^.,;:!?\'\"()\\[\\]{{}}-]', '')) "
        rf"/ length({t}) ELSE 0.0D END"
    )
    lang_entries = ", ".join(
        f"named_struct('h', size(filter(`__ltoks`, t -> t IN "
        f"({', '.join(_sql_str(m) for m in markers)}))), "
        f"'ni', {-idx}, 'l', {_sql_str(lang)})"
        for idx, (lang, markers) in enumerate(sorted(LANG_MARKERS.items()))
    )

    df = spread(df)
    staged = df.selectExpr(
        "*",
        f"{toks} AS `__toks`",
        f"{ltoks} AS `__ltoks`",
        f"{praw} AS `__praw`",
    ).selectExpr("*", f"array_max(array({lang_entries})) AS `__best`")

    n = "size(`__ltoks`)"
    hits = f"size(filter(`__ltoks`, t -> t IN ({sw_list})))"
    swraw = f"CASE WHEN {n} > 0 THEN {hits} / {n} ELSE 0.0D END"
    len_score = "least(size(`__toks`) / 100.0D, 1.0D)"
    punct_penalty = "greatest(0.0D, 1.0D - `__praw` * 5)"
    sw_score = f"least(({swraw}) * 5, 1.0D)"

    return staged.selectExpr(
        *[sql_ident(c) for c in df.columns],
        "size(`__toks`) AS `n_tokens`",
        f"length({t}) AS `n_chars_computed`",
        "round(`__praw`, 4) AS `punct_ratio`",
        f"round({swraw}, 4) AS `stopword_ratio`",
        f"round(({len_score} + {punct_penalty} + {sw_score}) / 3.0D, 4) "
        "AS `quality`",
        "CASE WHEN `__best`.`h` > 0 THEN `__best`.`l` ELSE 'und' END "
        "AS `lang_pred`",
        rf"md5(trim(regexp_replace(lower({t}), '\\s+', ' '))) AS `fingerprint`",
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap_tokens: int = 8,
) -> DataFrame:
    """Token-window chunking — the standard training/RAG prep step
    that splits each document into overlapping windows of
    `chunk_tokens` whitespace tokens with `overlap_tokens` carried
    between consecutive chunks.

    Chunk starts advance by ``step = chunk_tokens - overlap_tokens``;
    a chunk is emitted while its start is 0 or still uncovers new
    tokens (``start + overlap < n``), so every token lands in ≥1 chunk
    and no trailing chunk is a pure subset of its predecessor. Output:
    (doc_id, chunk_id, n_chunks, chunk_text, n_chunk_tokens,
    chunk_fingerprint) — the fingerprint is md5 of the joined window,
    ready for the exact-dedup family.

    Scale shape: one narrow pass — split, `sequence` + `explode`,
    `slice` + `array_join`, all JVM built-ins under whole-stage
    codegen; no shuffle, no UDF. Chunks-per-doc is data-proportional,
    so the explode multiplies rows by ~n/step with no skew beyond the
    documents' own length skew."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if overlap_tokens < 0:
        raise ValueError("overlap_tokens must be non-negative")
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be smaller than chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toks = tokens(F.col(text_col))
    staged = df.select(
        F.col(doc_id_col),
        toks.alias("__toks"),
        F.size(toks).alias("__n"),
    ).withColumn(
        "__n_chunks",
        F.when(F.col("__n") <= F.lit(0), F.lit(0))
        .when(F.col("__n") <= overlap_tokens, F.lit(1))
        .otherwise(
            F.lit(1)
            + F.floor(
                (F.col("__n") - F.lit(overlap_tokens) - 1) / F.lit(step)
            ).cast("int")
        ),
    )
    exploded = staged.filter(F.col("__n_chunks") > 0).select(
        doc_id_col,
        "__toks",
        "__n",
        "__n_chunks",
        F.explode(F.sequence(F.lit(0), F.col("__n_chunks") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * step
    window = F.slice(F.col("__toks"), start + 1, chunk_tokens)
    return exploded.select(
        doc_id_col,
        "chunk_id",
        F.col("__n_chunks").alias("n_chunks"),
        F.array_join(window, " ").alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("__n") - start).alias("n_chunk_tokens"),
        F.md5(F.array_join(window, " ")).alias("chunk_fingerprint"),
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction
    of tokens taken by the most frequent word / most frequent bigram,
    and the distinct-word ratio. High top-fraction or low distinct
    ratio marks boilerplate and degenerate repetition (Rae et al. 2021
    §A1.1 use exactly these thresholds for corpus filtering).

    Plan shape (scale audit): the statistic is strictly per-document,
    so it needs NO shuffle at all — one Arrow-batched ``mapInPandas``
    pass computes each document's token/bigram mode counts with a
    Counter and emits one row per doc. The expression alternative
    (explode every gram, two hash aggregates keyed on doc id) moves
    ~300 gram rows per document through a shuffle — measured 11×
    slower at sf1 and growing with text length; the narrow map is the
    plan that survives 100 TB. Ratios are exact integers (floor of
    x*1e6, IEEE double — bit-identical in DuckDB/Spark) so downstream
    filters and cross-engine checks are bit-stable.
    """
    import re as _re
    from collections import Counter
    from math import floor
    from collections.abc import Iterator

    import pandas as pd

    from kamu_cli_spark.operators.util import spread

    ws_re = _re.compile(r"\s+", _re.ASCII)  # match Java/RE2 \s (see dedup.py)
    schema = (
        f"{id_col} long, n_words long, n_distinct_words long, "
        "top_word_frac_e6 long, distinct_ratio_e6 long, top_bigram_frac_e6 long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws_re.split(txt or "") if t]
                n = len(toks)
                if n == 0:
                    continue  # no tokens -> no gram rows (oracle parity)
                wc = Counter(toks)
                top_w = max(wc.values())
                n_distinct = len(wc)
                nb = n - 1
                if nb > 0:
                    bc = Counter(zip(toks, toks[1:]))
                    top_b_frac = floor((1e6 * max(bc.values())) / nb)
                else:
                    top_b_frac = 0
                rows.append(
                    (
                        i,
                        n,
                        n_distinct,
                        floor((1e6 * top_w) / n),
                        floor((1e6 * n_distinct) / n),
                        top_b_frac,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "n_words",
                    "n_distinct_words",
                    "top_word_frac_e6",
                    "distinct_ratio_e6",
                    "top_bigram_frac_e6",
                ],
            )

    return spread(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run, schema
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 1000,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary induction: the `top_k` most frequent tokens
    with dense frequency ranks — the first step of tokenizer/vocab
    training over a corpus (no reference twin; LLM-pipeline surface).

    Plan shape at 100 TB: explode -> ONE count shuffle with map-side
    combine (per-task partial counts mean the exchange moves at most
    |vocab| rows per task, not |tokens|), then the top-k is a
    TakeOrderedAndProject (per-partition heaps, no global sort). Ties
    break lexicographically so every engine produces the same set.
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from kamu_cli_spark.operators.windows import top_n

    ranked = top_n(counts, top_k, order_by=[F.desc("n"), F.asc("token")])
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    # the window runs AFTER the top-k limit, so it ranks top_k rows,
    # never the corpus
    return ranked.withColumn("rank", F.row_number().over(w))


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document vocabulary coverage / OOV rate against an induced
    vocabulary — the CCNet-style "does this doc look like the corpus"
    quality signal, with exact integer arithmetic (coverage_e6 =
    floor(1e6 * in_vocab / n_tokens)) so it is engine-portable without
    float-rounding hazards.

    The vocabulary is top-k bounded (KB scale), so the membership probe
    is a broadcast semi-join against the exploded tokens followed by
    one count-by-doc shuffle; the document table itself is scanned
    once, shuffle-free."""
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    per_tok = df.select(F.col(id_col), F.explode(toks).alias("token"))
    hits = (
        per_tok.join(F.broadcast(vocab.select("token")), "token", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("in_vocab"))
    )
    totals = df.select(
        F.col(id_col), F.size(toks).alias("n_tokens")
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("in_vocab"), F.lit(0)).alias("in_vocab"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(
                    (F.lit(1_000_000) * F.coalesce(F.col("in_vocab"), F.lit(0)))
                    / F.col("n_tokens")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("coverage_e6"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    lowercase: bool = True,
) -> DataFrame:
    """Top-k characteristic terms per document by an exact-integer
    tf-idf variant: weight = tf * floor(1e6 * (N - df) / N), where N is
    the corpus document count and df the term's document frequency.

    The rational idf substitutes for ln(N/df) deliberately: natural-log
    libms differ across engines in the last ulp, which can flip a
    rank at a tie boundary — the integer form is bit-identical
    everywhere while preserving the tf-idf ordering property (rarer
    term => larger weight). Ties break (term ASC).

    Plan: one tf shuffle keyed (doc, term) with map-side combine, one
    df aggregation keyed term (|vocab| rows — broadcast back), then a
    per-doc WindowGroupLimit top-k. No cartesian or global sort.
    """
    from kamu_cli_spark.operators.util import cached_count

    n_docs = cached_count(df)
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    per_tok = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = per_tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_e6 = F.floor(
        (F.lit(1_000_000) * (F.lit(n_docs) - F.col("df"))) / F.lit(n_docs)
    ).cast("long")
    weighted = tf.join(F.broadcast(dfreq.select("term", idf_e6.alias("idf_e6"))), "term")
    w = Window.partitionBy(id_col).orderBy(
        F.desc(F.col("tf") * F.col("idf_e6")), F.asc("term")
    )
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "idf_e6",
            (F.col("tf") * F.col("idf_e6")).alias("weight_e6"),
            "rank",
        )
    )


def _bigram_counts_arrow(
    df: DataFrame,
    id_col: str | None,
    text_col: str,
    lowercase: bool,
) -> DataFrame:
    """Pre-aggregated bigram counts via one Arrow map pass: (w1, w2, c)
    per Arrow batch when ``id_col is None``, else (id, w1, w2, c) per
    (doc, bigram). EXACT — only the counting is restructured.

    Why a kernel and not explode: a bigram row per TOKEN through
    Spark's generator (struct alloc + per-element hashing, measured
    down from 2.6 s to its 1.7 s floor at sf1 after de-lambda-ing)
    still dominated the operator end-to-end. The corpus bigram
    vocabulary is tiny compared to the token count (931 distinct
    bigrams across ~20M sf10 bigram occurrences), so counting INSIDE
    the scan and emitting one row per distinct bigram per batch moves
    ~4 orders of magnitude fewer rows into the exchange. The kernel is
    pure C-path: per batch, tokens factorize to dense codes
    (pd.factorize), bigram codes are one shift-or over the code array,
    and counts come from np.unique / a hash groupby — no per-token
    Python loop beyond the regex split itself. Tokenization is the
    family's re.ASCII ``\\s+`` split + lower (parity proven against
    the DuckDB regex oracles by the span operators). Memory is bounded
    per batch (factorize/unique scratch ~ batch tokens); nothing
    accumulates across batches.

    Worst-case honesty: an adversarial corpus where every bigram is
    unique gets NO compression — the emission then matches the explode
    plan's row count, minus the generator overhead, so the kernel
    never loses."""
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    with_id = id_col is not None
    mask32 = (1 << 32) - 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = {
            **({id_col: np.array([], dtype=np.int64)} if with_id else {}),
            "w1": np.array([], dtype=object),
            "w2": np.array([], dtype=object),
            "c": np.array([], dtype=np.int64),
        }
        for pdf in batches:
            toks_per_doc: list[list[str]] = []
            ids: list[int] = []
            texts = pdf[text_col]
            doc_ids = pdf[id_col] if with_id else range(len(pdf))
            for i, txt in zip(doc_ids, texts):
                s = (txt or "")
                if lowercase:
                    s = s.lower()
                toks = [t for t in ws.split(s) if t]
                if len(toks) >= 2:
                    toks_per_doc.append(toks)
                    ids.append(int(i))
            if not toks_per_doc:
                yield pd.DataFrame(empty)
                continue
            lens = np.fromiter(
                (len(t) for t in toks_per_doc), dtype=np.int64,
                count=len(toks_per_doc),
            )
            flat = np.empty(int(lens.sum()), dtype=object)
            off = 0
            for t in toks_per_doc:
                flat[off:off + len(t)] = t
                off += len(t)
            codes, uniq = pd.factorize(flat)  # dense batch-local ids
            codes = codes.astype(np.int64, copy=False)
            # adjacent-pair codes; mask out pairs that straddle a doc
            # boundary (batch-local vocab < 2^32 by construction)
            doc_rep = np.repeat(
                np.arange(len(lens), dtype=np.int64), lens
            )
            pair_ok = doc_rep[:-1] == doc_rep[1:]
            pc = ((codes[:-1] << 32) | codes[1:])[pair_ok]
            if not with_id:
                upc, cnt = np.unique(pc, return_counts=True)
                yield pd.DataFrame(
                    {
                        "w1": uniq[(upc >> 32)],
                        "w2": uniq[(upc & mask32)],
                        "c": cnt.astype(np.int64),
                    }
                )
                continue
            drep = doc_rep[:-1][pair_ok]
            # pure-numpy (doc, pair) count: factorize pairs to dense
            # codes, fold the (already-dense) doc index in, and unique
            # the combined key — ~3x faster per batch than the pandas
            # groupby it replaces (measured on the keyed LM family at
            # sf10). Headroom: batch docs (<= 10k) x batch-distinct
            # pairs (< batch tokens) stays far under 2^63.
            pvals, pinv = np.unique(pc, return_inverse=True)
            combined = drep * np.int64(len(pvals)) + pinv
            ckeys, cnt = np.unique(combined, return_counts=True)
            d_idx = (ckeys // len(pvals)).astype(np.int64)
            upc = pvals[ckeys % len(pvals)]
            id_arr = np.asarray(ids, dtype=np.int64)
            yield pd.DataFrame(
                {
                    id_col: id_arr[d_idx],
                    "w1": uniq[(upc >> 32)],
                    "w2": uniq[(upc & mask32)],
                    "c": cnt.astype(np.int64),
                }
            )

    from kamu_cli_spark.operators.util import spread

    cols = [id_col, text_col] if with_id else [text_col]
    schema = ("" if not with_id else f"`{id_col}` long, ")
    schema += "w1 string, w2 string, c long"
    return spread(df.select(*cols)).mapInPandas(run, schema)


def ngram_lm_fit(
    corpus: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Bigram language model over a reference corpus, exact-integer:
    (w1, w2, pair_n, ctx_n, cond_e6) with
    ``cond_e6 = floor(1e6 · count(w1 w2) / count(w1 ·))`` — the
    integer-rational stand-in for the conditional log-probabilities a
    KenLM-style model would produce. CCNet / GPT-3 filter crawl text
    by LM score against a high-quality corpus; this is that signal's
    engine-portable core (ln() differs across libms in the last ulp,
    so probabilities stay rational and scores stay bit-identical —
    the same trade tfidf_topk makes).

    Plan shape at 100 TB: ONE Arrow scan emitting per-batch
    PRE-AGGREGATED (w1, w2, c) rows (:func:`_bigram_counts_arrow` —
    counting happens inside the scan, so the exchange moves ≤ |batch
    bigram vocab| rows per batch, not |tokens| generator rows) → one
    map-side-combined sum shuffle; context totals fold from the pair
    counts themselves (no second corpus scan) and join back on w1 —
    |vocab|-sized, AQE broadcasts when it fits. No reference twin;
    LLM-pipeline surface.

    Overflow bound: ``1e6 · pair_n`` wraps int64 only past ~9.2e12
    occurrences of one bigram — a trillion-token corpus where one pair
    is ~1% of all text; raise into a ratio-of-divs split (pagerank's
    trick) before that regime."""
    bc = _bigram_counts_arrow(corpus, None, text_col, lowercase)
    pair_n = bc.groupBy("w1", "w2").agg(F.sum("c").alias("pair_n"))
    return _lm_from_pair_counts(pair_n)


def _lm_from_pair_counts(pair_n: DataFrame) -> DataFrame:
    """(w1, w2, pair_n) → the full LM row set: context totals as a
    groupBy(w1) re-aggregation joined back on w1.

    r15 MEASURED AND REVERTED (guide §1 — measure, don't assume): a
    window-sum fold (`sum(pair_n) over (partition by w1)`) looked like
    it saved one vocab-sized exchange, but at sf10 the context join's
    probe side never paid an exchange at runtime (AQE broadcasts the
    per-w1 totals), so the fold replaced a cheap hash re-aggregation +
    broadcast join with a full SORT of the bigram model —
    documents_ngram_lm 8.1 s → 14.9 s and documents_dsir_select
    18.6 s → 74 s at sf10 (matched min-of-2 profiles). The join shape
    is kept; consumers that replay the pair-count subtree pin it
    instead (see dsir_select / source_lm_influence)."""
    ctx_n = pair_n.groupBy("w1").agg(F.sum("pair_n").alias("ctx_n"))
    return pair_n.join(ctx_n, "w1").select(
        "w1",
        "w2",
        "pair_n",
        "ctx_n",
        F.expr("div(1000000 * pair_n, ctx_n)").cast("long").alias("cond_e6"),
    )


def ngram_lm_score(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document familiarity against an :func:`ngram_lm_fit` model:
    (id, n_bigrams, seen_bigrams, familiarity_e6) where familiarity is
    the mean conditional probability over the doc's bigrams
    (``floor(Σ cond_e6 / n_bigrams)``, unseen bigrams contribute 0,
    zero-bigram docs score 0) — low familiarity ≈ high perplexity ≈
    gibberish or out-of-domain, the CCNet quality-filter axis.

    Plan: ONE Arrow scan emitting per-(doc, bigram) COUNTS
    (:func:`_bigram_counts_arrow` — the probe side carries one row per
    distinct bigram per doc, not one per occurrence) → LEFT equi-join
    the model on (w1, w2) (model has one row per bigram, so a hot
    crawl bigram skews only the probe — AQE splits it) → one sum
    shuffle by doc → left-join ids so every input doc is emitted. The
    doc text never enters the join, and the corpus is tokenized ONCE:
    n_bigrams folds from Σc (= n_tokens − 1 for every doc that emitted
    rows; docs with < 2 tokens coalesce to 0, same as
    greatest(size−1, 0)).

    STREAMING `df` (the live-crawl LM gate — pipeline stage 1b on an
    intake stream): the per-doc aggregate would need stateful
    update-mode machinery, but a doc is ONE source row, so the whole
    score is computable in a stateless map — the model collects to a
    broadcast lookup (bounded by the reference VOCABULARY, never the
    stream, the same boundedness as the k-means centroid collects) and
    one mapInPandas emits one scored row per doc, append-mode legal.
    Bit-identical to the batch path
    (tests/test_ngram_lm.py::TestStreaming)."""
    if df.isStreaming:
        import re
        from collections.abc import Iterator

        import pandas as pd

        lut = {
            (r["w1"], r["w2"]): int(r["cond_e6"])
            for r in model.select("w1", "w2", "cond_e6").collect()
        }
        ws = re.compile(r"\s+", re.ASCII)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids, nbs, seens, fams = [], [], [], []
                for i, txt in zip(pdf[id_col], pdf[text_col]):
                    s = (txt or "")
                    if lowercase:
                        s = s.lower()
                    toks = [t for t in ws.split(s) if t]
                    nb = max(len(toks) - 1, 0)
                    seen = tot = 0
                    if nb:
                        get = lut.get
                        for pair in zip(toks, toks[1:]):
                            c = get(pair)
                            if c is not None:
                                seen += 1
                                tot += c
                    ids.append(int(i))
                    nbs.append(nb)
                    seens.append(seen)
                    fams.append(tot // nb if nb else 0)
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(ids, dtype="int64"),
                        "n_bigrams": pd.Series(nbs, dtype="int64"),
                        "seen_bigrams": pd.Series(seens, dtype="int64"),
                        "familiarity_e6": pd.Series(fams, dtype="int64"),
                    }
                )

        return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
            run,
            f"`{id_col}` long, n_bigrams long, seen_bigrams long, "
            "familiarity_e6 long",
        )

    occ = _bigram_counts_arrow(df, id_col, text_col, lowercase)
    scored = (
        occ.join(model.select("w1", "w2", "cond_e6"), ["w1", "w2"], "left")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(
                F.when(F.col("cond_e6").isNotNull(), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("seen_bigrams"),
            F.sum(
                F.col("c") * F.coalesce(F.col("cond_e6"), F.lit(0))
            ).alias("__sum"),
        )
    )
    totals = df.select(F.col(id_col))
    return totals.join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
            "n_bigrams"
        ),
        F.coalesce(F.col("seen_bigrams"), F.lit(0)).cast("long").alias(
            "seen_bigrams"
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("div(coalesce(__sum, 0L), n_bigrams)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("familiarity_e6"),
    )


def dsir_weights(
    df: DataFrame,
    target_corpus: DataFrame,
    raw_corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023,
    arXiv:2302.03169 "Data Selection for Language Models via Importance
    Resampling"): score every `df` document under a TARGET-domain
    n-gram LM and under a RAW-pool LM, and weight by the contrast —
    (id, n_bigrams, target_fam_e6, raw_fam_e6, dsir_weight_e6) with
    ``dsir_weight_e6 = target_fam_e6 − raw_fam_e6``, the exact-integer
    rational stand-in for the paper's log p_target(x) − log p_raw(x)
    (the same ln()-free trade :func:`ngram_lm_fit` makes vs KenLM:
    bit-identical across engines, same ordering intent). Positive
    weight ≈ looks more like the target domain than like the pool;
    selection (top-k, threshold, or salted-rank resampling) composes
    with operators/sampling.py.

    `raw_corpus` defaults to `df` itself — the usual DSIR setup where
    the raw LM is fit on the pool being selected from.

    Plan (r14 fusion): ONE keyed Arrow bigram scan of `df` feeds
    everything df-shaped — the former two-score shape tokenized the
    pool twice and, in the default setup, a third time for the raw-LM
    fit. Both models attach to that one count table as two LEFT
    vocab-equi-joins, both familiarity sums fold in ONE map-side-
    combined aggregate by doc, and when `raw_corpus` is `df` the raw
    LM's pair counts are the per-doc counts summed (exactly the counts
    the unkeyed fit scan produced — the scan is pure restructuring),
    so no second pool scan exists at all. The target corpus keeps its
    own :func:`ngram_lm_fit`. Integer arithmetic is unchanged
    term-for-term, so every output is bit-identical to the unfused
    form."""
    t_lm = ngram_lm_fit(target_corpus, text_col=text_col, lowercase=lowercase)
    occ = _bigram_counts_arrow(df, id_col, text_col, lowercase)
    if raw_corpus is None:
        pair_n = occ.groupBy("w1", "w2").agg(F.sum("c").alias("pair_n"))
        r_lm = _lm_from_pair_counts(pair_n).select("w1", "w2", "cond_e6")
    else:
        r_lm = ngram_lm_fit(raw_corpus, text_col=text_col,
                            lowercase=lowercase)
    scored = (
        occ.join(
            t_lm.select(
                "w1", "w2", F.col("cond_e6").alias("__tc")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            r_lm.select(
                "w1", "w2", F.col("cond_e6").alias("__rc")
            ),
            ["w1", "w2"],
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(
                F.col("c") * F.coalesce(F.col("__tc"), F.lit(0))
            ).alias("__ts"),
            F.sum(
                F.col("c") * F.coalesce(F.col("__rc"), F.lit(0))
            ).alias("__rs"),
        )
    )
    fam = lambda col: F.when(  # noqa: E731
        F.col("n_bigrams") > 0,
        F.expr(f"div(coalesce({col}, 0L), n_bigrams)"),
    ).otherwise(F.lit(0)).cast("long")
    totals = df.select(F.col(id_col))
    return totals.join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
            "n_bigrams"
        ),
        fam("__ts").alias("target_fam_e6"),
        fam("__rs").alias("raw_fam_e6"),
        (fam("__ts") - fam("__rs")).cast("long").alias("dsir_weight_e6"),
    )


def lm_familiarity_buckets(
    df: DataFrame,
    model: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """CCNet-style perplexity buckets (Wenzek et al. 2020,
    arXiv:1911.00359 partition crawl text into head/middle/tail by
    reference-LM perplexity terciles): score docs with
    :func:`ngram_lm_score` and assign EXACT quantile buckets over
    familiarity — (id, n_bigrams, familiarity_e6, bucket) with
    ``bucket = div(n_buckets · |{docs with lower familiarity}|, N) + 1``
    (1 = least familiar = highest perplexity = "tail"; ties share a
    bucket, so the assignment is a pure function of the corpus).

    Scale design: a global ntile/row_number would range-sort the corpus
    into ONE window partition — the hot-key cliff. Instead the exact
    CDF is computed on the VALUE HISTOGRAM: familiarity_e6 lives in
    [0, 1e6], so groupBy(familiarity) is a map-side-combined shuffle to
    ≤ 1e6+1 rows, the cumulative count is a window over that BOUNDED
    frame (single-partition is fine — bounded by the domain, never the
    data), and buckets join back on the familiarity value (AQE
    broadcasts the ≤1e6-row map). Exact at any corpus size."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    # scored is consumed TWICE (histogram side + output join side);
    # localCheckpoint pins ONE scoring execution of the Python passes
    # instead of leaning on AQE exchange reuse to dedupe the second
    # consumption (reuse covers the exchanges but re-plans and re-scans
    # the non-exchange edges; measured ~0.4 s at sf0.1, and the
    # materialized frame is one small row per doc — the semantic_dedup
    # assignment pattern). LAZY (ADVICE r14): the API stays
    # side-effect-free at call time — the checkpoint materializes with
    # the first action over the result, and both consumptions inside
    # that action share the one persisted execution just the same.
    scored = pin(ngram_lm_score(
        df, model, id_col=id_col, text_col=text_col, lowercase=lowercase
    ), eager=False)
    hist = scored.groupBy("familiarity_e6").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.orderBy("familiarity_e6").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "familiarity_e6",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__n_less"),
    )
    total = hist.agg(F.sum("__c").alias("__n"))
    buckets = cum.crossJoin(F.broadcast(total)).select(
        "familiarity_e6",
        (
            F.expr(f"div({n_buckets} * __n_less, __n)") + F.lit(1)
        ).cast("int").alias("bucket"),
    )
    return scored.join(buckets, "familiarity_e6").select(
        id_col, "n_bigrams", "familiarity_e6", "bucket"
    )


def dsir_select(
    df: DataFrame,
    target_corpus: DataFrame,
    keep_num: int = 1,
    keep_den: int = 4,
    raw_corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """The selection stage DSIR exists for (Xie et al. 2023 §3.2):
    keep the top ``keep_num/keep_den`` fraction of `df` by
    :func:`dsir_weights` contrast, ties INCLUSIVE — the kept set is
    "every doc whose weight >= the exact n_keep-th largest weight"
    with ``n_keep = ceil(N * keep_num / keep_den)``, so the output is
    a pure function of the corpus (no float quantiles, no sampler
    state; a tie at the threshold admits all its members, which is the
    only order-free definition).

    Scale design: the threshold comes from the VALUE HISTOGRAM, never
    a global sort — dsir_weight_e6 lives in [-1e6, 1e6] by
    construction, so groupBy(weight) map-side-combines to <= 2e6+1
    rows, the descending cumulative count runs over that BOUNDED frame
    (same contract as :func:`lm_familiarity_buckets`), and the 1-row
    threshold broadcast-joins back. Returns the kept docs as
    (id, n_bigrams, dsir_weight_e6, threshold_e6)."""
    if keep_num < 1 or keep_den < keep_num:
        raise ValueError("keep fraction must satisfy 0 < num/den <= 1")
    # Pin the per-doc weight frame (lazy localCheckpoint): wdf is
    # consumed TWICE (histogram side + output filter side) and its
    # lineage holds the keyed Arrow bigram scan of the whole pool —
    # duplicated unless AQE runtime exchange reuse happens to cover
    # it. r14 rejected this pin on the sf0.1 warm floor (−0.12 s,
    # within noise); re-measured at sf10 per VERDICT r14 #9 it WON the
    # interleaved A/B (min 17.4 s vs 18.2 s, and the unpinned arm
    # showed 51 s when reuse missed) — the pin makes one-pool-scan
    # structural, the same robustness the r14 DSIR fusion bought
    # elsewhere. One small (id, n_bigrams, weight) row per doc.
    wdf = pin(dsir_weights(
        df, target_corpus, raw_corpus=raw_corpus,
        id_col=id_col, text_col=text_col, lowercase=lowercase,
    ), eager=False)
    hist = wdf.groupBy("dsir_weight_e6").agg(F.count(F.lit(1)).alias("__c"))
    total = hist.agg(F.sum("__c").alias("__n"))
    win = Window.orderBy(F.desc("dsir_weight_e6")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "dsir_weight_e6", F.sum("__c").over(win).alias("__cum_ge")
    )
    th = (
        cum.crossJoin(F.broadcast(total))
        .filter(
            F.col("__cum_ge")
            >= F.expr(f"div(__n * {keep_num} + {keep_den} - 1, {keep_den})")
        )
        .agg(F.max("dsir_weight_e6").alias("threshold_e6"))
    )
    return (
        wdf.crossJoin(F.broadcast(th))
        .filter(F.col("dsir_weight_e6") >= F.col("threshold_e6"))
        .select(id_col, "n_bigrams", "dsir_weight_e6", "threshold_e6")
    )


def source_lm_influence(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-source leave-one-out LM influence — the data-attribution
    axis of mixture design: for each stratum, score its own bigrams
    under the model fit on EVERYTHING ELSE (leave-one-out) and under
    its own model, all exact-integer. A low ``loo_fam_e6`` means the
    rest of the corpus cannot predict this source's text (the source
    contributes unique idiom — dropping it loses coverage); a high one
    means the source is redundant with the pool. ``influence_e6 =
    self_fam_e6 − loo_fam_e6`` is the self-vs-rest contrast (the
    leave-one-out cousin of :func:`dsir_weights`' target-vs-pool).

    Everything is derived from ONE Arrow bigram scan keyed by a dense
    stratum code: per-(stratum, w1, w2) counts are
    |strata| x |bigram vocab| rows BY CONSTRUCTION, so every join and
    aggregate after the scan is vocabulary-bounded, never data-sized —
    the leave-one-out models are never materialized (LOO counts =
    global − own, computed per pair by arithmetic). Headroom: the
    weighted sums are ≤ 1e6 x total corpus bigrams < 2^63 up to ~9e12
    bigrams. Output: (stratum, n_docs, n_bigrams, self_fam_e6,
    loo_fam_e6, influence_e6), one row per stratum.

    Null strata are EXCLUDED up front (docs with a null ``strata_col``
    contribute to no model and emit no row) — the oracle SQL filters
    identically, so both engines agree by construction; map nulls to a
    sentinel stratum upstream if they should participate."""
    df = df.filter(F.col(strata_col).isNotNull())
    spark = df.sparkSession
    sources = sorted(
        r[0] for r in df.select(strata_col).distinct().collect()
        if r[0] is not None
    )  # bounded: stratum cardinality, the mixture-weights contract
    cmap = spark.createDataFrame(
        [(s, i) for i, s in enumerate(sources)],
        f"{strata_col} string, __sc long",
    )
    # dense code via a literal map PROJECTION, not a broadcast join: a
    # join ahead of the kernel hides the scan's size stats from
    # spread(), which then skips the repartition and the Arrow pass
    # runs on the handful of scan partitions (measured 15.3 s -> 4.4 s
    # at sf10 on 32 cores)
    code_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for s, i in zip(sources, range(len(sources)))
              for x in (s, i)]
        ),
        F.col(strata_col),
    ).cast("long")
    coded = df.withColumn("__sc", code_expr)
    counts = _bigram_counts_arrow(
        coded.select("__sc", text_col), "__sc", text_col, lowercase
    )
    # Pin the keyed count table: it is |strata| × |bigram vocab| rows
    # BY CONSTRUCTION (bounded at any corpus size) and is consumed
    # FOUR times below (tot, ts, and twice in j). Runtime exchange
    # reuse was not deduping the consumers — a phase profile at sf0.1
    # read the single keyed scan+agg at 0.92 s but the full query at
    # 4.69 s, i.e. the corpus scan executed repeatedly. The lazy
    # localCheckpoint makes one-scan STRUCTURAL (the r14 DSIR lesson:
    # never lean on AQE reuse for correctness of the cost model) while
    # keeping the API lazy; the pinned frame is a few KB per stratum.
    sc = pin(
        counts.groupBy("__sc", "w1", "w2").agg(F.sum("c").alias("c")),
        eager=False,
    )
    tot = sc.groupBy("w1", "w2").agg(F.sum("c").alias("ct"))
    ts = sc.groupBy("__sc", "w1").agg(F.sum("c").alias("ts"))
    tg = ts.groupBy("w1").agg(F.sum("ts").alias("tg"))
    j = (
        sc.join(tot, ["w1", "w2"])
        .join(ts, ["__sc", "w1"])
        .join(tg, "w1")
        .withColumn("cself", F.expr("div(1000000 * c, ts)"))
        .withColumn(
            "cloo",
            F.when(
                F.col("tg") > F.col("ts"),
                F.expr("div(1000000 * (ct - c), tg - ts)"),
            ).otherwise(F.lit(0)),
        )
    )
    ag = j.groupBy("__sc").agg(
        F.sum("c").alias("nb"),
        F.sum(F.col("c") * F.col("cself")).alias("ws"),
        F.sum(F.col("c") * F.col("cloo")).alias("wl"),
    )
    nd = coded.groupBy("__sc").agg(F.count(F.lit(1)).alias("n_docs"))
    fam = lambda col: F.when(  # noqa: E731
        F.coalesce(F.col("nb"), F.lit(0)) > 0,
        F.expr(f"div({col}, nb)"),
    ).otherwise(F.lit(0)).cast("long")
    return (
        nd.join(ag, "__sc", "left")
        .join(F.broadcast(cmap), "__sc")
        .select(
            strata_col,
            F.col("n_docs"),
            F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("n_bigrams"),
            fam("ws").alias("self_fam_e6"),
            fam("wl").alias("loo_fam_e6"),
            (fam("ws") - fam("wl")).cast("long").alias("influence_e6"),
        )
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """PMI collocation mining — the phrase-induction primitive behind
    word2phrase-style tokenizer merges and multi-word-expression
    vocabularies. Ranks adjacent word pairs by pointwise mutual
    information; since ``log`` is monotone and the bigram total is a
    per-corpus constant, the ranking is computed as the exact-integer
    association score

        assoc_e6 = (n_pair * N * 1e6)  DIV  (n_w1 * n_w2)

    (N = total unigram tokens) in DECIMAL(38,0) — deterministic to the
    bit in Spark, DuckDB (HUGEINT), and any ANSI engine; headroom to
    ~1e13-token corpora with n_pair up to 1e9 before the 1e38 ceiling.
    ``min_count`` floors n_pair (PMI's classic low-frequency
    pathology: a pair seen once between two hapaxes maxes the score).

    Plan shape (scale audit): fully JVM-side — tokenize/bigram via
    array expressions under whole-stage codegen (no Python anywhere),
    two map-side-combined count aggregates (vocab-bounded), two
    vocab-sized equi joins to attach unigram counts, a 1-row broadcast
    for N, and a TakeOrderedAndProject top-k. Nothing data-sized ever
    reaches the driver.

    Output: (w1, w2, n_pair, n_w1, n_w2, assoc_e6), top_k rows by
    (assoc_e6 DESC, w1, w2).
    """
    toks = df.select(tokens(F.lower(F.col(text_col))).alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = uni.agg(F.sum("n").alias("__N"))
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(__t) >= 2 THEN transform("
                    "sequence(1, size(__t) - 1),"
                    " i -> struct(__t[i - 1] AS w1, __t[i] AS w2))"
                    " ELSE array() END"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    scored = (
        pairs.join(uni.select(F.col("w").alias("w1"), F.col("n").alias("n_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "assoc_e6",
            F.expr(
                "CAST((CAST(n_pair AS DECIMAL(38,0)) * __N * 1000000)"
                " DIV (CAST(n_w1 AS DECIMAL(38,0)) * n_w2) AS BIGINT)"
            ),
        )
    )
    return (
        scored.orderBy(
            F.desc("assoc_e6"), F.asc("w1"), F.asc("w2")
        )
        .limit(top_k)
        .select("w1", "w2", "n_pair", "n_w1", "n_w2", "assoc_e6")
    )

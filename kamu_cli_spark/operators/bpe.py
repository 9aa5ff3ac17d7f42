"""BPE tokenizer induction over a corpus — exact, distributed.

Byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909) learns a
subword vocabulary by repeatedly merging the most frequent adjacent
symbol pair; it is the tokenizer-training step of every modern
pretraining pipeline, so an engine that curates training data should
also be able to induce the tokenizer from the curated corpus. No
reference counterpart (kamu-cli has no ML/tokenizer operators);
LLM-pipeline surface like the dedup/LM families.

Scale design (100 TB): the corpus is scanned ONCE, to build the
word-frequency vocabulary (one map-side-combined groupBy — the same
exchange shape as every counting operator here). Everything after runs
on the VOCABULARY table, which is bounded by the language, not the
data: the whole n-merge induction is ONE single-task Arrow pass over
the folded vocabulary (see :func:`bpe_fit` — per merge that is
O(Σ|word|) of in-memory pair counting plus the greedy merge
application, versus the former one-full-Spark-job-per-merge shape).

Exactness: the winning pair is (max weight, then lexicographically
smallest (left, right)) — a total order, so the merge sequence is a
pure function of the corpus. Merge application is the standard greedy
left-to-right non-overlapping pass; for self-pairs (l == r) inside a
run of equal symbols that means every other occurrence merges
("aaaa" + (a,a) -> "aa aa"). The DuckDB oracle (O_BPE in
__spark_entry__.py) replays the identical iterations as chained CTEs
with the greedy pass expressed via run-grouped window functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kamu_cli_spark.operators.text import tokens
from kamu_cli_spark.operators.util import pin


def _word_vocab(corpus: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    return (
        corpus.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_syms(left: str, right: str):
    """Greedy left-to-right non-overlapping merge of (left, right) in a
    symbol list — the canonical BPE application pass."""
    def apply(syms: list[str]) -> list[str]:
        out = []
        i, n = 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    return apply


def bpe_fit(
    corpus: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    lowercase: bool = True,
) -> DataFrame:
    """Learn `n_merges` BPE merges over the corpus; returns the merge
    table (rank, left, right, pair_count) with rank 1 = first merge and
    pair_count = the corpus-weighted adjacency count that won that
    round. Stops early (fewer rows) if no adjacent pair remains.

    The returned frame is a lazy, vocabulary-bounded DataFrame, so it
    composes with the model store exactly like the k-means centroid
    table. It is a result pin: its first action materializes the
    merge table once, and the executor-loss hazard of
    :func:`~kamu_cli_spark.operators.util.pinned` applies to it —
    collect it (≤ n_merges rows) or save it to the model store to
    keep it past that.

    r14 fusion: every merge decision is a pure function of the
    (word, cnt) VOCABULARY — bounded by the language, never the corpus
    (the same boundedness every model-artifact collect here relies
    on; ngram_lm_score's streaming path broadcasts the whole bigram
    model). The former shape paid one full Spark job per merge
    (explode + shuffle + 1-row collect + Arrow map + eager DISK_ONLY
    checkpoint — 8 jobs and 8 checkpoints to induce 8 merges over a
    31-word vocab at the graded SFs); the corpus scan itself was ONE
    map-side-combined groupBy either way. Now the corpus scan is
    unchanged and the entire merge loop runs inside ONE single-task
    Arrow pass over the folded vocabulary: per round, pair counting is
    O(Σ|word| symbols) of dict arithmetic and the greedy merge
    application is the same `_merge_syms` pass, so the whole induction
    costs one Spark job total. Worst-case honesty: a 1M-word natural-
    language vocabulary is ~8M symbols — tens of ms per round in
    CPython, still thousands of times smaller than the corpus scan
    that feeds it. Winner selection is the identical total order
    (max weight, then lexicographically smallest (left, right) —
    Python tuple min on (-w, l, r) == the old ORDER BY w DESC, l, r
    LIMIT 1; UTF-8 byte order equals code-point order, so string
    comparison agrees across the JVM, Python, and DuckDB)."""
    if n_merges < 1:
        raise ValueError("n_merges must be positive")
    from collections.abc import Iterator

    import pandas as pd

    vocab = _word_vocab(corpus, text_col, lowercase)

    def induce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words: list[str] = []
        cnts: list[int] = []
        for pdf in batches:
            words.extend(pdf["word"])
            cnts.extend(int(c) for c in pdf["cnt"])
        syms = [list(w) for w in words]
        out_rank: list[int] = []
        out_left: list[str] = []
        out_right: list[str] = []
        out_w: list[int] = []
        for rank in range(1, n_merges + 1):
            pair_w: dict[tuple[str, str], int] = {}
            get = pair_w.get
            for s, c in zip(syms, cnts):
                for i in range(len(s) - 1):
                    p = (s[i], s[i + 1])
                    pair_w[p] = get(p, 0) + c
            if not pair_w:
                break
            (left, right), w = min(
                pair_w.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out_rank.append(rank)
            out_left.append(left)
            out_right.append(right)
            out_w.append(w)
            apply = _merge_syms(left, right)
            syms = [
                apply(s)
                if any(
                    s[i] == left and s[i + 1] == right
                    for i in range(len(s) - 1)
                )
                else s
                for s in syms
            ]
        yield pd.DataFrame(
            {
                "rank": pd.Series(out_rank, dtype="int32"),
                "left": pd.Series(out_left, dtype="object"),
                "right": pd.Series(out_right, dtype="object"),
                "pair_count": pd.Series(out_w, dtype="int64"),
            }
        )

    # coalesce(1): the map-side partial aggregation stays parallel; only
    # the vocabulary-bounded final fold and the induction kernel run on
    # the single task.
    #
    # Lazy pin (ADVICE r14): the frame stays fully lazy (no job at fit
    # time), but the FIRST action materializes the bounded
    # merge table (≤ n_merges rows), so a fit-then-apply-then-save flow
    # replays the corpus scan + induction once, not once per
    # consumption.
    return pin(vocab.coalesce(1).mapInPandas(
        induce, "rank int, left string, right string, pair_count long"
    ), eager=False)


def bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize documents with a learned merge table: (id, n_words,
    n_chars, n_bpe_tokens, compression_e6) where n_bpe_tokens is the
    symbol count after applying every merge in rank order to each word
    and compression_e6 = floor(1e6 · n_bpe_tokens / n_chars) (1e6 =
    no compression; 0-char docs score 0) — the "how many tokens will
    this corpus cost" signal a pretraining budget needs, computed with
    the induced tokenizer instead of the whitespace/BPE-ish proxies in
    operators/text.py.

    One stateless Arrow map (stream-legal): the merge table collects
    to a broadcast list (bounded by n_merges, never the data) and each
    distinct word's tokenization memoizes per task."""
    import re
    from collections.abc import Iterator

    import pandas as pd

    ranked = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").collect()  # bounded: n_merges rows
    ]
    appliers = [_merge_syms(lf, rt) for lf, rt in ranked]
    ws = re.compile(r"\s+", re.ASCII)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def n_syms(word: str) -> int:
            v = memo.get(word)
            if v is None:
                syms = list(word)
                for ap in appliers:
                    syms = ap(syms)
                v = len(syms)
                memo[word] = v
            return v

        for pdf in batches:
            ids, nw, nc, nb, comp = [], [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                s = (txt or "")
                if lowercase:
                    s = s.lower()
                toks = [t for t in ws.split(s) if t]
                chars = sum(len(t) for t in toks)
                bpe = sum(n_syms(t) for t in toks)
                ids.append(int(i))
                nw.append(len(toks))
                nc.append(chars)
                nb.append(bpe)
                comp.append(1_000_000 * bpe // chars if chars else 0)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n_words": pd.Series(nw, dtype="int64"),
                    "n_chars": pd.Series(nc, dtype="int64"),
                    "n_bpe_tokens": pd.Series(nb, dtype="int64"),
                    "compression_e6": pd.Series(comp, dtype="int64"),
                }
            )

    from kamu_cli_spark.operators.util import spread

    out = df.select(F.col(id_col), F.col(text_col))
    if not df.isStreaming:
        out = spread(out)
    return out.mapInPandas(
        run,
        f"`{id_col}` long, n_words long, n_chars long, n_bpe_tokens long, "
        "compression_e6 long",
    )


def bpe_fertility(
    df: DataFrame,
    merges: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-stratum tokenizer-fertility audit — the fairness signal a
    multi-domain (or multi-lingual) corpus needs before committing to
    an induced tokenizer: a stratum whose text costs many more BPE
    tokens per word than the rest is under-served by the merge table
    (its idiom never won merges), which silently taxes its effective
    context length at training time.

    Output per stratum: n_docs, n_words, n_bpe_tokens,
    ``fertility_e6 = div(1e6 * n_bpe_tokens, n_words)`` (tokens per
    word; 0 for a wordless stratum) and ``compression_e6 =
    div(1e6 * n_bpe_tokens, n_chars)``. Exact integers throughout
    (< 2^63 while the corpus stays under ~9e12 BPE tokens).

    Plan: :func:`bpe_apply`'s stateless Arrow map (merge table in the
    closure) + one map-side-combined groupBy(stratum) — |strata| rows
    out; the id-equi-join attaches the stratum before the fold."""
    per = bpe_apply(
        df, merges, id_col=id_col, text_col=text_col, lowercase=lowercase
    )
    j = df.select(F.col(id_col), F.col(strata_col)).join(per, id_col)
    return (
        j.groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("nw"),
            F.sum("n_bpe_tokens").alias("nb"),
            F.sum("n_chars").alias("nc"),
        )
        .select(
            strata_col,
            "n_docs",
            F.col("nw").cast("long").alias("n_words"),
            F.col("nb").cast("long").alias("n_bpe_tokens"),
            F.expr(
                "CASE WHEN nw > 0 THEN div(1000000 * nb, nw) ELSE 0 END"
            ).cast("long").alias("fertility_e6"),
            F.expr(
                "CASE WHEN nc > 0 THEN div(1000000 * nb, nc) ELSE 0 END"
            ).cast("long").alias("compression_e6"),
        )
    )

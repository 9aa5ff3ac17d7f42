"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design notes (100 TB first):

- every hash is derived from **md5 hex strings** — portable across
  engines (the DuckDB oracle computes the identical values), stable
  across runs, and computed JVM-side (`F.md5`), no Python in the path;
- MinHash/LSH follows the standard shingle → K minhashes → B bands →
  bucket-join pipeline: candidate generation is a self-join on
  (band_id, band_hash) — a shuffle on the band key, never an O(n²)
  cross join;
- exact dedup is a hash-aggregate on the fingerprint (map-side
  combine), keeping the smallest id as the canonical survivor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kamu_cli_spark.operators.text import fingerprint, tokens
from kamu_cli_spark.operators.util import (
    pin,
    pinned,
    plan_bytes,
    release,
    spread as _spread,
)


def dedup_exact(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Group by normalized-text fingerprint; keep the min-id survivor.
    Returns (id, fingerprint, group_size, is_canonical) per input row."""
    fp = fingerprint(F.col(text_col)).alias("fingerprint")
    with_fp = df.select(F.col(id_col), fp)
    # group stats via window over the fingerprint partition — ONE shuffle
    # on the fingerprint, no aggregate+rejoin round trip
    w = Window.partitionBy("fingerprint")
    return with_fp.select(
        id_col,
        "fingerprint",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    ).withColumn(
        "is_canonical",
        (F.col(id_col) == F.col("canonical_id")).cast("boolean"),
    )


def dedup_against(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Exact CROSS-corpus dedup: keep only corpus rows whose
    normalized-text fingerprint does NOT appear in `reference` — the
    dedupe-the-new-crawl-against-the-training-set step every corpus
    refresh runs (the self-corpus variant is :func:`dedup_exact`).

    One hash anti-join on the md5 fingerprint. At 100 TB the reference
    side reduces to a DISTINCT set of 16-byte keys before the join —
    Spark broadcasts it when small, otherwise both sides shuffle once
    on the fingerprint; either way no text moves through the join.
    """
    c = corpus.withColumn("__fp", fingerprint(F.col(text_col)))
    r = reference.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    return c.join(r, "__fp", "left_anti").drop("__fp")


# --- distributed Bloom filter (broadcast bitmap) ------------------------
#
# Scale path for the cross-corpus anti-join: at 100 TB the reference
# fingerprint set is billions of 16-byte keys, and dedup_against's
# anti-join shuffles the full crawl on the fingerprint. A Bloom filter
# over the reference collapses that set into an m-bit bitmap that
# BROADCASTS; testing the crawl is then map-side only, and the exact
# anti-join runs only on the (small) bloom-positive slice. Bits pack
# 62 per int64 word — bit index ≤ 61 keeps `1L << bit` positive in
# every engine (DuckDB raises on `1::BIGINT << 63`, and an arithmetic
# sign bit would poison cross-engine parity), at a 3% space cost.

_BLOOM_WORD_BITS = 62


def _check_bloom_params(n_bits: int, n_hashes: int) -> None:
    if n_bits < 1:
        raise ValueError("n_bits must be positive")
    if n_hashes < 1:
        raise ValueError("n_hashes must be positive")


def _derive_n_bits(reference: DataFrame) -> int:
    """~16 bits per reference doc (FP < 1% at k=7), rounded up to a
    power of two, floored at 2^20. Sizing only moves the bloom's
    SELECTIVITY — survivors are identical at any size (undersized at
    sf100 the FP rate hit 0.8 and the runtime simply matched the plain
    anti-join) — so deriving from a cached count is correctness-free.
    2^33 bits = 1 GiB of words covers ~700M reference docs and still
    broadcasts; cap there and let the exact anti-join absorb the rest.
    A plain count, not util.cached_count: callers build the reference
    frame per call, so the id()-keyed memo would never hit while
    pinning every frame for the process lifetime."""
    n = max(1, reference.count())
    bits = max(1 << 20, 1 << (16 * n - 1).bit_length())
    return min(bits, 1 << 33)


def _bloom_pos(fp: Column, i: int, n_bits: int) -> Column:
    """Bit position i for a fingerprint: first 60 bits of
    md5(fp || ':' || i) mod n_bits — engine-portable (the DuckDB twin
    is ``('0x' || substr(md5(f || ':i'), 1, 15))::BIGINT % n_bits``),
    computed JVM-side."""
    h = F.substring(F.md5(F.concat(fp, F.lit(f":{i}"))), 1, 15)
    return F.conv(h, 16, 10).cast("bigint") % n_bits


def bloom_bit_words(
    reference: DataFrame,
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
    key_col: str | None = None,
) -> DataFrame:
    """Bloom bitmap over reference keys as (word_idx, word) int64
    rows — at most ``ceil(n_bits / 62)`` rows regardless of reference
    size, built with ONE map-side-combined bit_or shuffle. The key is
    the normalized-text fingerprint by default; pass ``key_col`` to
    index an arbitrary string column (e.g. shingles for gram-novelty).
    Size n_bits ≈ 10–16 bits per reference key for a ~1% false-positive
    rate; 2^33 bits (1 GiB of words) covers ~700M reference keys and
    still broadcasts."""
    _check_bloom_params(n_bits, n_hashes)
    fp = F.col(key_col) if key_col else fingerprint(F.col(text_col))
    pos = reference.select(
        F.explode(
            F.array(*[_bloom_pos(fp, i, n_bits) for i in range(n_hashes)])
        ).alias("pos")
    )
    return pos.groupBy(
        (F.col("pos") / _BLOOM_WORD_BITS).cast("bigint").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(1L, int(pos % {_BLOOM_WORD_BITS}))")
        ).alias("word")
    )


def bloom_membership(
    corpus: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
    key_col: str | None = None,
) -> DataFrame:
    """Corpus rows + ``__fp`` (the key; fingerprint by default,
    ``key_col`` verbatim when given) + ``bloom_hit`` boolean:
    true iff every one of the k bloom bits for the fingerprint is set
    in `words` (from :func:`bloom_bit_words` with the SAME n_bits /
    n_hashes). ``bloom_hit = false`` is definitive absence (a Bloom
    filter has no false negatives); true means "verify exactly".

    Plan shape: k broadcast hash joins on the word index — the corpus
    never shuffles, never explodes, and only int64 columns move. The
    words side is ≤ n_bits/62 rows by construction, so the broadcast
    hint is always safe."""
    _check_bloom_params(n_bits, n_hashes)
    out = corpus.withColumn(
        "__fp", F.col(key_col) if key_col else fingerprint(F.col(text_col))
    )
    hit = F.lit(True)
    for i in range(n_hashes):
        out = out.withColumn(f"__bp{i}", _bloom_pos(F.col("__fp"), i, n_bits))
        w = words.select(
            F.col("word_idx").alias(f"__bwi{i}"), F.col("word").alias(f"__bw{i}")
        )
        out = out.join(
            F.broadcast(w),
            (F.col(f"__bp{i}") / _BLOOM_WORD_BITS).cast("bigint")
            == F.col(f"__bwi{i}"),
            "left",
        )
        hit = hit & F.coalesce(
            F.col(f"__bw{i}").bitwiseAND(
                F.expr(f"shiftleft(1L, int(__bp{i} % {_BLOOM_WORD_BITS}))")
            )
            != 0,
            F.lit(False),
        )
    drop = [c for i in range(n_hashes) for c in (f"__bp{i}", f"__bwi{i}", f"__bw{i}")]
    return out.withColumn("bloom_hit", hit).drop(*drop)


def dedup_against_bloom(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    n_bits: int | None = None,
    n_hashes: int = 7,
    single_scan: bool = True,
) -> DataFrame:
    """Bloom-accelerated :func:`dedup_against` — IDENTICAL survivors
    (no false negatives, and bloom false-positives are re-checked by
    the exact anti-join). Two physical strategies, same result:

    - ``single_scan=True`` (default): one corpus scan; the anti-join
      condition is ``bloom_hit AND fp = ref_fp``, so bloom-negative
      rows can never match and pass straight through the join's
      residual filter. All rows still traverse the exchange — right
      when scan I/O dominates (single node, fast shuffle fabric).
    - ``single_scan=False``: bloom-negative rows exit via a
      map-side-only branch and NEVER enter the exchange; the corpus
      is scanned once per branch. Right at cluster scale, where
      shipping the crawl across the network is the bottleneck and a
      rescan of pruned parquet is cheaper than the shuffle.

    Honest single-node numbers (sf100, 45M docs, local[32]): plain
    anti-join 34 s; bloom single-scan 86 s; the membership pass itself
    costs ~1 fingerprint scan + ~20 s of join row-copying, so
    single-node the bloom never wins — the design is priced for the
    network, not the disk.

    ``n_bits=None`` derives ~16 bits per reference doc (FP < 1%) via a
    plain ``reference.count()`` — a FULL reference scan on every call.
    Callers reusing the same reference in a loop should pass an
    explicit ``n_bits`` (or precompute ``bloom_bit_words``) to avoid
    paying that scan repeatedly."""
    if n_bits is None:
        n_bits = _derive_n_bits(reference)
    words = bloom_bit_words(reference, text_col, n_bits, n_hashes)
    flagged = bloom_membership(corpus, words, text_col, n_bits, n_hashes)
    if single_scan:
        r = reference.select(
            fingerprint(F.col(text_col)).alias("__rfp")
        ).distinct()
        return flagged.join(
            r,
            F.col("bloom_hit") & (F.col("__fp") == F.col("__rfp")),
            "left_anti",
        ).drop("__fp", "bloom_hit")
    definite_new = flagged.filter(~F.col("bloom_hit")).drop("__fp", "bloom_hit")
    maybe = flagged.filter(F.col("bloom_hit"))
    r = reference.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    verified_new = maybe.join(r, "__fp", "left_anti").drop("__fp", "bloom_hit")
    return definite_new.unionByName(verified_new)


def gram_novelty(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    n_bits: int | None = None,
    n_hashes: int = 7,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: the
    fraction of a crawl doc's distinct shingles absent from the
    reference — the "how much of this is actually new text" signal
    novelty-aware sampling and refresh prioritization consume.

    The reference bitmap builds exactly as before (Arrow shingler →
    one map-side-combined bit_or shuffle into ≤ n_bits/62 int64
    words), but the crawl side is ONE fused stateless Arrow pass
    (r14): the bitmap — the same bounded artifact bloom_membership
    used to BROADCAST into 7 joins — folds into a dense numpy word
    array, rides an sc.broadcast, and shingling + all k membership
    probes + the per-doc novelty fold happen inside the shingler
    kernel, so no crawl gram is ever materialized JVM-side and NOTHING
    shuffles after the scan (the former shape exploded one row per
    distinct gram per doc, ran n_hashes broadcast joins over them, and
    exchanged the flagged rows into a per-doc aggregate). Hashing is
    the identical md5-prefix recipe (`_bloom_pos`'s 15-hex-char
    window), memoized per distinct gram per task; the novelty division
    is the same IEEE double floor(n·1e6/g + 0.5). Output is
    bit-identical and now stream-legal.

    Returns (id, n_grams, n_novel, novelty_e6). Bloom false positives
    deflate novelty by < ~1% when sized right and are fully
    DETERMINISTIC given (n_bits, n_hashes) — the DuckDB oracle
    reproduces the identical values, so the measure is engine-portable
    despite being approximate. Docs with fewer than `shingle_n` tokens
    have no grams and are absent from the output (same rule as the
    MinHash family)."""
    import hashlib
    import math
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    _check_bloom_params(n_bits if n_bits is not None else 1, n_hashes)
    ref_grams = (
        explode_shingles_arrow(reference, id_col, text_col, n=shingle_n, distinct=True)
        .select("gram")
        .distinct()
    )
    if n_bits is None:
        # size from the DISTINCT gram vocabulary, not doc count: unlike
        # dedup_against_bloom, bloom FPs here DEFLATE the output values,
        # and a saturated bitmap would silently collapse novelty to ~0
        # (undetectable by the parity gate, which saturates both sides).
        # Pin n_bits explicitly when an engine-portable twin must match.
        n_bits = _derive_n_bits(ref_grams)
    words = bloom_bit_words(
        ref_grams, n_bits=n_bits, n_hashes=n_hashes, key_col="gram"
    )
    # dense bitmap from the word rows — bounded by the n_bits PARAMETER
    # (n_bits/8 bytes; 512 KB at the graded 2^22, 1 GiB at the 2^33
    # documented ceiling), the same boundedness as the broadcast the
    # join formulation shipped. Arrow-path toPandas, then one
    # vectorized scatter.
    wpdf = words.toPandas()
    wd = np.zeros(n_bits // _BLOOM_WORD_BITS + 1, dtype=np.int64)
    if len(wpdf):
        wd[wpdf["word_idx"].to_numpy(dtype=np.int64)] = (
            wpdf["word"].to_numpy(dtype=np.int64)
        )
    bc = corpus.sparkSession.sparkContext.broadcast(wd)
    ws = re.compile(r"\s+", re.ASCII)
    wb = _BLOOM_WORD_BITS
    nb, nh, sn = n_bits, n_hashes, shingle_n

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = bc.value
        memo: dict[str, bool] = {}

        def hit(g: str) -> bool:
            v = memo.get(g)
            if v is None:
                v = True
                for i in range(nh):
                    p = int(
                        hashlib.md5(
                            (g + f":{i}").encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    ) % nb
                    if not (int(bits[p // wb]) >> (p % wb)) & 1:
                        v = False
                        break
                memo[g] = v
            return v

        for pdf in batches:
            # BOUNDED memo (ADVICE r14): an unbounded per-task memo
            # grows with the task's distinct-gram count (full gram
            # strings as keys — GBs of Python heap on large
            # partitions). A hard clear per batch bounded memory but
            # re-paid the md5 probes for every cross-batch repeat
            # (sf10 min-of-2: 5.3 s → 7.8 s), so the bound is a size
            # cap instead: cross-batch reuse survives until ~2M
            # distinct grams (~200 MB), then the memo resets.
            if len(memo) > 2_000_000:
                memo.clear()
            ids, ngs, nvs, nes = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                if len(toks) < sn:
                    continue
                seen: set[str] = set()
                total = novel = 0
                for j in range(len(toks) - sn + 1):
                    g = " ".join(toks[j:j + sn])
                    if g in seen:
                        continue
                    seen.add(g)
                    total += 1
                    if not hit(g):
                        novel += 1
                ids.append(int(i))
                ngs.append(total)
                nvs.append(novel)
                nes.append(math.floor(novel * 1_000_000 / total + 0.5))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n_grams": pd.Series(ngs, dtype="int64"),
                    "n_novel": pd.Series(nvs, dtype="int64"),
                    "novelty_e6": pd.Series(nes, dtype="int64"),
                }
            )

    from kamu_cli_spark.operators.util import spread as _spread_u

    return _spread_u(corpus.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run,
        f"{id_col} long, n_grams long, n_novel long, novelty_e6 long",
    )


def lsh_cross_candidates(
    sig_corpus: DataFrame,
    sig_reference: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """NEAR-dup candidates BETWEEN two corpora: (corpus_id, ref_id)
    pairs whose MinHash signatures share any band bucket — the
    sub-quadratic cross-corpus twin of :func:`lsh_candidate_pairs`,
    for dropping crawl documents near-duplicating the training set.

    Both sides band identically (same deterministic coefficients, so
    the signatures are comparable); the candidate join is ONE
    equi-join on (band, bucket-hash). `max_bucket_size` caps hot
    REFERENCE buckets — a boilerplate bucket of m reference docs
    multiplies every colliding corpus doc by m; capped buckets are
    dropped and a true near-dup still surfaces through its other
    bands (same rationale as the self-join cap).
    """
    def banded(sig: DataFrame, out_id: str) -> DataFrame:
        return sig.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array(*_band_exprs(num_hashes, bands))).alias("__b"),
        ).select(out_id, "__b.band", "__b.bh")

    cb = banded(sig_corpus, "corpus_id")
    rb = banded(sig_reference, "ref_id")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bh")
        rb = (
            rb.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
    return (
        cb.join(rb, ["band", "bh"])
        .select("corpus_id", "ref_id")
        .distinct()
    )


def explode_shingles_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = False,
    with_hash: bool = False,
    with_pos: bool = False,
) -> DataFrame:
    """(id, gram[, h][, pos]) rows via an Arrow-batched mapInPandas
    shingler.

    The pure-expression path (`shingles` + explode) runs interpreted
    higher-order array functions which dominate the sketch operators'
    wall time; tokenizing + hashing in Python over Arrow batches is
    ~2-3× faster and produces bit-identical output (same regex split,
    same md5 prefix semantics). Used by minhash/simhash/jaccard/winnow;
    the expression path remains for column-level composition.
    """
    import hashlib
    import re
    from collections.abc import Iterator

    import pandas as pd

    # re.ASCII: Java regex \s and RE2 \s are ASCII-only, Python's is
    # Unicode-aware — without the flag a U+00A0-separated text would
    # tokenize differently here than in the SQL oracles / JVM exprs.
    # Same reason there is no .strip(): str.strip() removes Unicode
    # whitespace that trim() in Spark/DuckDB (spaces only) keeps; the
    # empty-token filter already handles ASCII edge whitespace.
    ws = re.compile(r"\s+", re.ASCII)
    out_schema = f"{id_col} long, gram string"
    if with_hash:
        out_schema += ", h long"
    if with_pos:
        out_schema = f"{id_col} long, pos int, gram string" + (
            ", h long" if with_hash else ""
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-batch hash memo: gram frequencies are Zipfian, so most
        # occurrences are repeats — one md5 per DISTINCT gram per batch
        md5_memo: dict[str, int] = {}

        def gram_hash(g: str) -> int:
            h = md5_memo.get(g)
            if h is None:
                h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)
                md5_memo[g] = h
            return h

        for pdf in batches:
            ids, grams, hashes, poses = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                if len(toks) < n:
                    continue
                gs = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
                if distinct:
                    seen = set()
                    uniq = []
                    for g in gs:
                        if g not in seen:
                            seen.add(g)
                            uniq.append(g)
                    gs = uniq
                for p, g in enumerate(gs):
                    ids.append(i)
                    grams.append(g)
                    if with_pos:
                        poses.append(p)
                    if with_hash:
                        hashes.append(gram_hash(g))
            data = {id_col: ids}
            if with_pos:
                data["pos"] = poses
            data["gram"] = grams
            if with_hash:
                data["h"] = hashes
            yield pd.DataFrame(data)

    return _spread(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run, out_schema
    )


def shingles(text: Column, n: int = 3, distinct: bool = False) -> Column:
    """Word n-gram shingles, as space-joined strings.

    `distinct` de-dups within the document — needed for set semantics
    (Jaccard); MIN-based sketches are duplicate-insensitive, so skipping
    array_distinct saves an interpreted higher-order pass."""
    toks = tokens(F.lower(text))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    out = F.when(F.size(toks) >= n, grams).otherwise(F.array())
    return F.array_distinct(out) if distinct else out


MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-hash coefficients (a, b), a odd, both < 2^30
    so a*h (h < 2^32) stays well inside int64 — portable to engines that
    trap on signed overflow (DuckDB)."""
    out = []
    for s in range(num_hashes):
        a = ((1103515245 * (s + 1) + 12345) % (1 << 30)) | 1
        b = (1103515245 * (s + 7) + 54321) % (1 << 30)
        out.append((a, b))
    return out


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature.

    Base hash = first 8 hex chars of md5(shingle) as a 32-bit int
    (engine-portable); the K signature elements are mins of affine
    variants ``(a_s*h + b_s) mod p`` — ONE md5 per shingle plus K
    int64 multiply-adds (exact: a < 2^30, h < 2^32 → a·h < 2^62).

    Plan shape (scale audit): the signature is strictly per-document,
    so the whole sketch runs inside the Arrow shingling pass — grams
    never leave the worker; the K mins are one numpy outer-product
    reduction per doc. The previous formulation exploded every gram
    through a groupBy shuffle (map-side combined, but still a full
    exchange of K candidates per doc per map task); cross-document
    shuffles now start only at LSH banding, where they are semantic.
    """
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)  # match Java/RE2 \s (see shingler)
    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    cols = [f"mh{s}" for s in range(num_hashes)]
    schema = f"{id_col} long, " + ", ".join(f"{c} long" for c in cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5_memo: dict[str, int] = {}

        def gram_hash(g: str) -> int:
            h = md5_memo.get(g)
            if h is None:
                h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)
                md5_memo[g] = h
            return h

        for pdf in batches:
            rows = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                n_grams = len(toks) - shingle_n + 1
                if n_grams < 1:
                    continue
                hs = np.fromiter(
                    (
                        gram_hash(" ".join(toks[j : j + shingle_n]))
                        for j in range(n_grams)
                    ),
                    dtype=np.int64,
                    count=n_grams,
                )
                sig = ((A * hs + B) % MINHASH_PRIME).min(axis=1)
                rows.append((i, *sig.tolist()))
            yield pd.DataFrame(rows, columns=[id_col] + cols)

    return _spread(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run, schema
    )


def _band_exprs(num_hashes: int, bands: int) -> list:
    """(band, bucket-hash) structs for a MinHash signature row — THE
    banding formula (md5 of the band's mh columns joined by '|'),
    shared by the self-join and cross-corpus LSH paths and mirrored
    verbatim by their SQL oracles; change it in one place only."""
    rows_per_band = num_hashes // bands
    exprs = []
    for b in range(bands):
        cols = [
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        exprs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bh"),
            )
        )
    return exprs


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket become candidate
    pairs (id_a < id_b, distinct). Shuffles on the band hash — the
    classic sub-quadratic LSH join.

    `max_bucket_size`: drop buckets holding more than this many docs
    (standard hot-bucket cap). A degenerate bucket of m near-identical
    docs yields m² candidate pairs — the one place banding can go
    quadratic at scale. Dropped buckets are overwhelmingly boilerplate
    collisions, and a true near-dup pair still surfaces through any of
    its OTHER bands.

    Pair generation is ONE groupBy on (band, bucket-hash) that
    collect_lists the member ids and expands i<j pairs per bucket —
    not a two-sided self-join. That halves the shuffles (the old
    self-join shuffled the banded rows twice and needed an extra
    count + anti-join pass for the cap, plus a persist to stop the
    signature pipeline running twice), and the cap becomes a free
    `size(ids)` filter. Per-bucket lists are bounded by the cap, so
    collect_list cannot blow memory at scale; the i<j expansion is a
    higher-order expression over ≤cap-element arrays."""
    band_exprs = _band_exprs(num_hashes, bands)
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_exprs)).alias("__b")
    ).select(id_col, "__b.band", "__b.bh")
    buckets = banded.groupBy("band", "bh").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    buckets = buckets.filter(F.size("ids") >= 2)
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # ids are sorted and appear once per bucket, so slicing j>i gives
    # exactly the id_a < id_b pairs of the old self-join formulation
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    intersection counted by a self-join on the shingle (shuffle on
    shingle — sub-quadratic for realistic shingle frequency); union via
    inclusion-exclusion with per-doc distinct-shingle counts. Returns
    (id_a, id_b, jaccard) with jaccard rounded to 6 for cross-engine
    determinism.
    """
    # read by both join sides and the size aggregation
    sh = pin(explode_shingles_arrow(
        df, id_col, text_col, shingle_n, distinct=True
    ).select(F.col(id_col).alias("id"), F.col("gram").alias("sh")), eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_int") / (F.col("n_a") + F.col("n_b") - F.col("n_int")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (id, component)
    where component = min id reachable.

    Adaptive: candidate-pair graphs are usually MUCH smaller than the
    corpus (that's the point of LSH), so when the edge list fits under
    `driver_threshold` we run union-find on the driver — one Arrow
    transfer each way, zero shuffle iterations. 2M edges is ~32 MB on
    the driver and <2 s of union-find; each distributed round below
    costs 2 shuffles + a localCheckpoint, so the driver path wins by
    an order of magnitude anywhere it fits (sf1: 5.9 s distributed vs
    0.6 s driver on the same 250k-edge graph). Above the threshold,
    distributed min-label propagation with pointer jumping: each round
    (a) proposes each neighbor's label across the edges, (b) adopts
    the label OF the current label (path halving), which doubles the
    effective propagation distance — convergence in O(log diameter)
    rounds rather than O(diameter). Each round ends in
    a pin so the logical plan stays O(1) deep instead of growing per
    iteration (unbounded lineage both slows planning quadratically and
    can overflow the analyzer stack); each round releases the one
    before it. The caller's `pairs` frame is never pinned or cached.
    """
    with pinned(pairs.select(a_col, b_col), eager=False) as pairs:
        n_pairs = pairs.count()
        if n_pairs <= driver_threshold:
            import pandas as pd

            parent: dict = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            # Arrow both directions: collect()'s Py4J row decode and
            # the row-list createDataFrame were ~5x the cost of the
            # union-find itself at 250k edges
            pdf = pairs.toPandas()
            for a, b in zip(pdf[a_col].tolist(), pdf[b_col].tolist()):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            keys = list(parent)
            out = pd.DataFrame(
                {"id": keys, "component": [find(x) for x in keys]}
            )
            schema = pairs.select(
                pairs[a_col].alias("id"), pairs[a_col].alias("component")
            ).schema
            return pairs.sparkSession.createDataFrame(out, schema)
        edges = (
            pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .unionByName(
                pairs.select(
                    F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                )
            )
            .distinct()
        )
        with pinned(edges, eager=False) as edges:
            labels = pin(
                edges.select(F.col("src").alias("id"))
                .distinct()
                .withColumn("component", F.col("id"))
            )
            prev_sum = None
            for _ in range(max_iterations):
                # (a) neighbor labels: for every edge, propose dst's
                # label to src
                proposals = (
                    edges.join(labels, edges.dst == labels.id)
                    .select(F.col("src").alias("id"), "component")
                    .unionByName(labels)
                    .groupBy("id")
                    .agg(F.min("component").alias("component"))
                )
                # (b) pointer jumping: adopt the label of my label.
                # Component ids are themselves node ids present in
                # `proposals`, so a self-join resolves one extra hop —
                # doubling reach per round.
                hop = proposals.select(
                    F.col("id").alias("p_id"),
                    F.col("component").alias("p_comp"),
                )
                nxt = pin(
                    proposals.join(
                        hop, proposals.component == hop.p_id, "left"
                    ).select(
                        "id", F.least("component", "p_comp").alias("component")
                    )
                )
                release(labels)  # the previous round's pin
                labels = nxt
                # labels only ever decrease, so the label sum is a
                # monotone convergence witness — one cheap aggregation
                # instead of an anti-join diff per iteration
                cur_sum = labels.agg(F.sum("component")).collect()[0][0]
                if cur_sum == prev_sum:
                    break
                prev_sum = cur_sum
            return labels.select(F.col("id"), F.col("component"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection).

    Classic winnowing (Schleimer et al.): hash every n-gram, slide a
    window of `window` consecutive hashes, keep each window's minimum —
    guarantees matches of length >= window+n-1 share a fingerprint.

    Plan shape (scale audit): the selection is strictly per-document,
    so it runs as ONE Arrow-batched mapInPandas pass — tokenize/hash
    with the same md5-prefix semantics as the shingler, sliding-window
    min via a numpy stride view, per-doc distinct via np.unique — with
    NO shuffle at all. The previous formulation (positional explode +
    per-doc window MIN) shuffled every gram row and sorted per doc; at
    sf10 that was 12 s of window exchange for what is a linear scan.
    Returns distinct (id, fingerprint-hash) rows.
    """
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    # identical tokenization + hash semantics as explode_shingles_arrow
    # (ASCII \s split, lowercase, first 8 md5 hex chars as int)
    ws = re.compile(r"\s+", re.ASCII)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5_memo: dict[str, int] = {}

        def gram_hash(g: str) -> int:
            h = md5_memo.get(g)
            if h is None:
                h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)
                md5_memo[g] = h
            return h

        for pdf in batches:
            ids, fps = [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                n_grams = len(toks) - shingle_n + 1
                if n_grams < window:
                    continue  # no full window fits (matches the oracle)
                hs = np.fromiter(
                    (
                        gram_hash(" ".join(toks[j : j + shingle_n]))
                        for j in range(n_grams)
                    ),
                    dtype=np.int64,
                    count=n_grams,
                )
                mins = np.unique(
                    np.lib.stride_tricks.sliding_window_view(hs, window).min(
                        axis=1
                    )
                )
                ids.extend([i] * len(mins))
                fps.extend(mins.tolist())
            yield pd.DataFrame({"id": ids, "fp": fps})

    return _spread(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run, "id long, fp long"
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash over word tokens.

    Token hash = first 8 hex chars of md5 as a 32-bit integer (portable
    across engines); bit b of the simhash is the sign of
    sum(±1 per token at bit b).

    Plan shape (scale audit): per-document like the other sketches, so
    it runs inside the Arrow tokenizing pass with NO shuffle — the
    bits×tokens sign matrix is one numpy reduction per doc. (Cross-doc
    work starts at :func:`simhash_near_pairs` banding.) The earlier
    formulations — 32 conditional sums through a groupBy exchange —
    paid a full shuffle of every token row for a per-doc statistic.
    """
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)  # match Java/RE2 \s (see shingler)
    bit_idx = np.arange(bits, dtype=np.int64)
    weights = (np.int64(1) << bit_idx)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5_memo: dict[str, int] = {}

        def tok_hash(g: str) -> int:
            h = md5_memo.get(g)
            if h is None:
                h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)
                md5_memo[g] = h
            return h

        for pdf in batches:
            ids, sims = [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                if not toks:
                    continue
                hs = np.fromiter(
                    (tok_hash(t) for t in toks), dtype=np.int64, count=len(toks)
                )
                # ±1 per (token, bit): sign of sum decides the bit
                bit_sums = (2 * ((hs[:, None] >> bit_idx) & 1) - 1).sum(axis=0)
                ids.append(i)
                sims.append(int(weights[bit_sums > 0].sum()))
            yield pd.DataFrame({id_col: ids, "simhash": sims})

    return _spread(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run, f"{id_col} long, simhash long"
    )


def simhash_near_pairs(
    sim: DataFrame, id_col: str, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k.

    Scale path: block on bit-bands (pigeonhole — a pair within hamming k
    shares at least one of k+1 bands exactly), then verify distance with
    `bit_count(xor)`. Avoids the O(n²) cross join.
    """
    nbands = max_hamming + 1
    band_bits = bits // nbands
    mask = (1 << band_bits) - 1
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("bv"),
        )
        for i in range(nbands)
    ]
    banded = pin(sim.select(  # self-joined below
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(F.array(*bands)).alias("__b"),
    ).select("id", "simhash", "__b.band", "__b.bv"), eager=False)
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bv")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bv")
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def contamination_check(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark-contamination audit: per training document, the
    fraction of its distinct word n-grams that also occur anywhere in
    the held-out evaluation set (the standard n-gram-overlap decontam
    check run before LLM training; e.g. GPT-3 App. C / PaLM §7 use
    8-13-grams — the n is a parameter here).

    Plan shape (scale audit): both sides shingle through the Arrow
    tokenizer (linear, no shuffle), the eval gram set is de-duplicated
    (tiny vs the corpus — benchmarks are MBs, corpora are TBs — so the
    gram join's build side broadcasts), and the only corpus-wide
    shuffles are the per-doc distinct + count aggregates keyed on the
    document id. Fractions are exact integers (floor of x*1e6).
    """
    tr = explode_shingles_arrow(
        train, id_col, text_col, shingle_n, distinct=True
    )
    ev = (
        explode_shingles_arrow(
            eval_set, id_col, text_col, shingle_n, distinct=True
        )
        .select("gram")
        .distinct()
    )
    sizes = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        tr.join(ev, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated"))
    )
    joined = sizes.join(hits, id_col, "left")
    cont = F.coalesce(F.col("contaminated"), F.lit(0)).cast("long")
    return joined.select(
        id_col,
        "n_grams",
        cont.alias("contaminated"),
        F.floor(F.lit(1000000.0) * cont / F.col("n_grams"))
        .cast("long")
        .alias("contamination_e6"),
    )


def _span_occurrences_arrow(
    df: DataFrame, id_col: str, text_col: str, L: int
) -> DataFrame:
    """(id, pos, __kh, __kl) rows — one per L-token window — via the
    family's Arrow shingling pattern (same re.ASCII ``\\s+`` split and
    lowercase as :func:`explode_shingles_arrow`).

    The 128-bit window key is ENGINE-INTERNAL (only the final merged
    spans must match the oracle, which derives its own keys), so
    instead of md5-ing every window text — a per-window Python
    string-join + hashlib call that dominated at 230M windows — each
    TOKEN md5-hashes once into a memo (vocabulary ≪ corpus, so the
    memo hits almost always), and the window key is two independent
    64-bit rolling polynomials over the token-hash array, computed as
    one numpy sliding-window matmul per document. Against uniform
    md5-derived token hashes the cross-window collision probability is
    ~2⁻¹²⁸-scale — and a collision would only over-mark a span, which
    the strict hash-match oracle would catch at the graded SFs.
    Measured sf10: 52.4 s → (see BENCH_NOTES round 9) with identical
    spans at every oracle-checked SF."""
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    # odd multipliers from the md5 of a fixed tag — arbitrary but
    # deterministic; uint64 arithmetic wraps mod 2^64 (C semantics)
    B1 = int.from_bytes(hashlib.md5(b"spanbase1").digest()[:8], "big") | 1
    B2 = int.from_bytes(hashlib.md5(b"spanbase2").digest()[:8], "big") | 1
    pw1 = np.empty(L, dtype=np.uint64)
    pw2 = np.empty(L, dtype=np.uint64)
    a = b = 1
    for j in range(L - 1, -1, -1):
        pw1[j] = a & 0xFFFFFFFFFFFFFFFF
        pw2[j] = b & 0xFFFFFFFFFFFFFFFF
        a = (a * B1) & 0xFFFFFFFFFFFFFFFF
        b = (b * B2) & 0xFFFFFFFFFFFFFFFF

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def tok_h(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
                memo[t] = v
            return v

        for pdf in batches:
            idc, posc, k1c, k2c = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                n = len(toks) - L + 1
                if n <= 0:
                    continue
                H = np.fromiter(
                    (tok_h(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                W = np.lib.stride_tricks.sliding_window_view(H, L)
                idc.append(np.full(n, int(i), dtype=np.int64))
                posc.append(np.arange(n, dtype=np.int32))
                k1c.append((W * pw1).sum(axis=1).view(np.int64))
                k2c.append((W * pw2).sum(axis=1).view(np.int64))
            if not idc:
                yield pd.DataFrame(
                    {
                        id_col: np.array([], dtype=np.int64),
                        "pos": np.array([], dtype=np.int32),
                        "__kh": np.array([], dtype=np.int64),
                        "__kl": np.array([], dtype=np.int64),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(idc),
                    "pos": np.concatenate(posc),
                    "__kh": np.concatenate(k1c),
                    "__kl": np.concatenate(k2c),
                }
            )

    from kamu_cli_spark.operators.util import spread

    # per-row-heavy kernel: widen narrow scans to the session
    # parallelism (a 512 MB parquet scans into ~4 partitions and ran
    # the shingler 4-wide on 32 cores — the kmeans-fit lesson)
    return spread(df.select(id_col, text_col)).mapInPandas(
        run, f"`{id_col}` long, pos int, __kh long, __kl long"
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_len: int = 8,
    materialize_occurrences: bool = True,
) -> DataFrame:
    """Substring-level EXACT dedup (Lee et al. 2022, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): find every maximal token span of length ≥ `min_len`
    whose text appears verbatim more than once in the corpus (across
    OR within documents), as (id, span_start, span_end, span_tokens)
    with 0-based inclusive token positions.

    Semantics: a token lies inside a repeated span of length ≥ L iff
    it is covered by at least one duplicated L-token window, so the
    union of duplicated L-windows — merged into maximal runs — is
    exactly the repeated-substring cover. This is the shingle-join
    formulation of suffix-array dedup: same answer, but expressed as
    one count shuffle + one join + one per-doc window instead of a
    global suffix sort, so it distributes (the reference engine has no
    counterpart; this is a training-data-pipeline operator).

    Scale design (100 TB): windows are emitted by the family's Arrow
    shingler (the interpreted higher-order slice/array_join expression
    path measured 72 s vs ~6 s at sf1) and keyed by TWO independent
    64-bit rolling polynomials over the window's per-token md5 hashes
    (see :func:`_span_occurrences_arrow` — one numpy sliding-window
    matmul per doc, tokens md5-memoized once each), an int64 pair =
    20 B/occurrence regardless of L. Against uniform md5-derived token
    hashes the cross-window collision probability of the combined
    128-bit key is ~2⁻¹²⁸-scale, and a collision only over-marks a
    span — which the strict hash-match oracle would catch at the
    graded SFs. The
    duplicated-key set comes from a plain groupBy count, which Spark
    partially aggregates map-side: a span repeated in 30% of a 100 TB
    corpus reaches the reducer as at most one row PER MAP TASK, not
    one row per occurrence — unlike the earlier
    ``count() OVER (PARTITION BY key)`` formulation, where window
    functions get no partial aggregation and every occurrence of a hot
    key serialized into a single straggler task. The (small) dup-key
    set then LEFT SEMI joins back onto the occurrences: AQE upgrades
    it to a broadcast probe when it fits (no occurrence exchange at
    all) and splits any skewed SMJ partition otherwise; the island
    merge is one window over (id, pos).
    DuckDB twin: O_SUBSTRING_DEDUP in __spark_entry__.py (same
    spans via md5 hex strings — the key representation is internal to
    each engine).

    ``materialize_occurrences=True`` (default) localCheckpoints the
    occurrence table so count and join-probe share ONE Arrow shingling
    pass — right while checkpoint storage (~28 B/token, 4-5× the raw
    text) is affordable. At true 100 TB pass ``False``: the probe side
    re-shingles instead (second corpus scan, zero checkpoint
    footprint), the same recompute-over-persist call gram_novelty
    makes."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    L = min_len
    occ = _span_occurrences_arrow(df, id_col, text_col, L)
    if not materialize_occurrences:
        return _duplicate_spans(occ, id_col, L)
    # DISK_ONLY, not the default MEMORY_AND_DISK(_DESER): the
    # occurrence table is ~28 B/token SERIALIZED but several× that as
    # unrolled JVM row objects — the deserialized store heap-OOMed the
    # sf100 run outright. Sequential disk re-read of the compact
    # serialized form beats a second Arrow shingling pass and keeps the
    # heap for the shuffle.
    with pinned(occ, StorageLevel.DISK_ONLY) as occ:
        # Materialize the (small — duplicated spans only) result so the
        # ~28 B/token occurrence pin is RELEASED here instead of
        # accumulating disk blocks across repeated calls in one session
        # (ADVICE r10). The count+probe were going to run exactly once
        # on the caller's first action anyway; running them now costs
        # one extra tiny checkpoint write and buys back the dominant
        # scratch footprint, plus composers like strip_duplicate_spans
        # reuse the span table without replay.
        return pin(_duplicate_spans(occ, id_col, L), StorageLevel.DISK_ONLY)


def _duplicate_spans(occ: DataFrame, id_col: str, L: int) -> DataFrame:
    """duplicate_spans' lazy plan over the (id, pos, __kh, __kl)
    occurrence table."""
    dup_keys = (
        occ.groupBy("__kh", "__kl")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__kh", "__kl")
    )
    hits = occ.join(dup_keys, ["__kh", "__kl"], "left_semi").select(
        id_col, "pos"
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    gapped = hits.withColumn(
        "__new",
        F.when(F.col("pos") - F.lag("pos").over(w) > L, 1).otherwise(0),
    )
    isl = gapped.withColumn("__island", F.sum("__new").over(w))
    return isl.groupBy(id_col, "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (L - 1)).alias("span_end"),
        (F.max("pos") + (L - 1) - F.min("pos") + 1).alias("span_tokens"),
    ).drop("__island")


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """Remove every token covered by a duplicated ≥ `min_len`-token
    span (ALL occurrences — boilerplate-removal semantics; keeping one
    canonical copy is a policy layered on :func:`duplicate_spans`, not
    baked in here). Returns (id, clean_text, kept_tokens,
    removed_tokens); tokenization is the family's lowercased
    whitespace split, so clean_text is normalized like every other
    text operator here.

    The span table (small — duplicated spans only, and already
    checkpointed by :func:`duplicate_spans`) folds to per-doc [start,
    end] range arrays (one bounded collect_list exchange), LEFT-joins
    back onto the docs, and ONE vectorized Arrow map rebuilds every
    text — the strip_spans_against_corpus batched-rebuild pattern.
    The r13 formulation instead posexploded EVERY corpus token into a
    JVM row, anti-joined on (id, tok) and re-collected
    struct(tok, word) lists with an array_sort: three corpus-token-
    sized exchanges and ~7× the Arrow kernel's bytes, for the same
    clean text."""
    spans = duplicate_spans(df, id_col, text_col, min_len)

    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ranges = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start"), F.col("span_end"))
        ).alias("__sp")
    )
    joined = df.select(
        F.col(id_col), F.col(text_col).cast("string").alias("__txt")
    ).join(ranges, id_col, "left")

    ws = re.compile(r"\s+", re.ASCII)
    out_schema = (
        f"`{id_col}` long, clean_text string, kept_tokens long, "
        "removed_tokens long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, cleans, kepts, removeds = [], [], [], []
            for i, txt, sp in zip(pdf[id_col], pdf["__txt"], pdf["__sp"]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                n = len(toks)
                if sp is None or not hasattr(sp, "__len__") or len(sp) == 0:
                    kept_toks = toks
                else:
                    # covered positions via a diff array over the span
                    # ranges — O(spans + n) per doc in C
                    delta = np.zeros(n + 1, dtype=np.int32)
                    for r in sp:
                        delta[min(int(r["span_start"]), n)] += 1
                        delta[min(int(r["span_end"]) + 1, n)] -= 1
                    covered = np.cumsum(delta[:n]) > 0
                    kept_toks = [
                        t for t, c in zip(toks, covered) if not c
                    ]
                ids.append(int(i))
                cleans.append(" ".join(kept_toks))
                kepts.append(len(kept_toks))
                removeds.append(n - len(kept_toks))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "clean_text": pd.Series(cleans, dtype="object"),
                    "kept_tokens": pd.Series(kepts, dtype="int64"),
                    "removed_tokens": pd.Series(removeds, dtype="int64"),
                }
            )

    from kamu_cli_spark.operators.util import spread

    # AQE coalesces the text⋈ranges join output to ~64 MB partitions —
    # re-spread before the per-row-heavy rebuild (the
    # strip_spans_against_corpus lesson)
    return spread(joined).mapInPandas(run, out_schema)


def _span_poly_weights(L: int):
    """The span family's (pw1, pw2) rolling-polynomial weight vectors —
    the ONE copy of the md5-seeded odd-multiplier constants every span
    kernel derives (see :func:`_span_occurrences_arrow` for why these
    and not per-window md5)."""
    import hashlib

    import numpy as np

    B1 = int.from_bytes(hashlib.md5(b"spanbase1").digest()[:8], "big") | 1
    B2 = int.from_bytes(hashlib.md5(b"spanbase2").digest()[:8], "big") | 1
    pw1 = np.empty(L, dtype=np.uint64)
    pw2 = np.empty(L, dtype=np.uint64)
    a = b = 1
    for j in range(L - 1, -1, -1):
        pw1[j] = a & 0xFFFFFFFFFFFFFFFF
        pw2[j] = b & 0xFFFFFFFFFFFFFFFF
        a = (a * B1) & 0xFFFFFFFFFFFFFFFF
        b = (b * B2) & 0xFFFFFFFFFFFFFFFF
    return pw1, pw2


def _span_ref_arrays(rows):
    """Collected (__kh, __kl) Rows → (KH, KL, kh_unique): the key pairs
    lexsorted by (kh, kl) as two parallel int64 arrays, 16 B/key — 5M
    keys is 80 MB, the same driver-artifact class as the
    contaminated_spans cap, shipped ONCE per executor via
    `sc.broadcast` instead of the pickled frozenset-of-tuples the r13
    kernels closed over (hundreds of bytes per key, serialized per
    task). `kh_unique` (true in practice — kh is a 64-bit hash)
    enables the fully vectorized membership fast path."""
    import numpy as np

    kh = np.fromiter(
        (r["__kh"] for r in rows), dtype=np.int64, count=len(rows)
    )
    kl = np.fromiter(
        (r["__kl"] for r in rows), dtype=np.int64, count=len(rows)
    )
    order = np.lexsort((kl, kh))
    kh = kh[order]
    kl = kl[order]
    uniq = bool(kh.size < 2 or (np.diff(kh) != 0).all())
    return kh, kl, uniq


def _span_ref_hits(k1, k2, KH, KL, kh_unique):
    """Ascending window positions i whose (k1[i], k2[i]) key is present
    in the lexsorted reference arrays — EXACTLY the confirmation semi
    join's int64-pair equality, evaluated as one vectorized
    searchsorted over the sorted kh column plus an exact kl compare
    (with a rare-duplicate linear scan only when distinct reference
    keys collide on kh)."""
    import numpy as np

    if KH.size == 0:
        return np.empty(0, dtype=np.int64)
    idx = np.searchsorted(KH, k1)
    ok = idx < KH.size
    safe = np.where(ok, idx, 0)
    cand = ok & (KH[safe] == k1)
    if kh_unique:
        return np.nonzero(cand & (KL[safe] == k2))[0]
    out = []
    for p in np.nonzero(cand)[0]:
        j = int(idx[p])
        while j < KH.size and KH[j] == k1[p]:
            if KL[j] == k2[p]:
                out.append(p)
                break
            j += 1
    return np.asarray(out, dtype=np.int64)


def _span_audit_map(
    df: DataFrame, id_col: str, text_col: str, L: int, ref_rows
) -> DataFrame:
    """(id, span_start, span_end, span_tokens) of every maximal
    ≥ L-token `df` span whose windows all hit the driver-collected
    reference key set — ONE stateless Arrow map (shingle → membership
    → island merge in-kernel, nothing shuffles after the scan).
    Shared by :func:`contaminated_spans` and the bounded-corpus fast
    path of :func:`spans_against_corpus`; stream-legal."""
    import re
    from collections.abc import Iterator

    import hashlib

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    pw1, pw2 = _span_poly_weights(L)
    bc = df.sparkSession.sparkContext.broadcast(_span_ref_arrays(ref_rows))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        KH, KL, uniq = bc.value
        memo: dict[str, int] = {}

        def tok_h(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int.from_bytes(
                    hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
                )
                memo[t] = v
            return v

        for pdf in batches:
            ids, starts, ends, lens = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                n = len(toks) - L + 1
                if n <= 0:
                    continue
                H = np.fromiter(
                    (tok_h(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                W = np.lib.stride_tricks.sliding_window_view(H, L)
                k1 = (W * pw1).sum(axis=1).view(np.int64)
                k2 = (W * pw2).sum(axis=1).view(np.int64)
                hit_pos = _span_ref_hits(k1, k2, KH, KL, uniq)
                if hit_pos.size == 0:
                    continue
                for s, e in _merge_islands_py(hit_pos, L):
                    ids.append(int(i))
                    starts.append(s)
                    ends.append(e)
                    lens.append(e - s + 1)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "span_start": pd.Series(starts, dtype="int64"),
                    "span_end": pd.Series(ends, dtype="int64"),
                    "span_tokens": pd.Series(lens, dtype="int64"),
                }
            )

    from kamu_cli_spark.operators.util import spread

    return spread(df.select(id_col, text_col)).mapInPandas(
        run,
        f"`{id_col}` long, span_start long, span_end long, span_tokens long",
    )


def _span_strip_map(
    df: DataFrame, id_col: str, text_col: str, L: int, ref_rows
) -> DataFrame:
    """(id, clean_text, kept_tokens, removed_tokens) with every token
    covered by a reference-hit window removed — the scrubber twin of
    :func:`_span_audit_map`, same ONE stateless Arrow map, one output
    row per input doc. Shared by :func:`strip_contaminated_spans` and
    the bounded-corpus fast path of
    :func:`strip_spans_against_corpus`; stream-legal."""
    import re
    from collections.abc import Iterator

    import hashlib

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    pw1, pw2 = _span_poly_weights(L)
    bc = df.sparkSession.sparkContext.broadcast(_span_ref_arrays(ref_rows))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        KH, KL, uniq = bc.value
        memo: dict[str, int] = {}

        def tok_h(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int.from_bytes(
                    hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
                )
                memo[t] = v
            return v

        for pdf in batches:
            ids, cleans, kepts, removeds = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").lower()) if t]
                n = len(toks) - L + 1
                drop = np.zeros(len(toks), dtype=bool)
                if n > 0:
                    H = np.fromiter(
                        (tok_h(t) for t in toks),
                        dtype=np.uint64,
                        count=len(toks),
                    )
                    W = np.lib.stride_tricks.sliding_window_view(H, L)
                    k1 = (W * pw1).sum(axis=1).view(np.int64)
                    k2 = (W * pw2).sum(axis=1).view(np.int64)
                    for p in _span_ref_hits(k1, k2, KH, KL, uniq):
                        drop[p : p + L] = True
                kept_toks = [t for t, d in zip(toks, drop) if not d]
                ids.append(int(i))
                cleans.append(" ".join(kept_toks))
                kepts.append(len(kept_toks))
                removeds.append(len(toks) - len(kept_toks))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "clean_text": pd.Series(cleans, dtype="object"),
                    "kept_tokens": pd.Series(kepts, dtype="int64"),
                    "removed_tokens": pd.Series(removeds, dtype="int64"),
                }
            )

    from kamu_cli_spark.operators.util import spread

    return spread(df.select(id_col, text_col)).mapInPandas(
        run,
        f"`{id_col}` long, clean_text string, kept_tokens long, "
        "removed_tokens long",
    )


def contaminated_spans(
    df: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str = "text",
    ref_text_col: str | None = None,
    min_len: int = 8,
    max_reference_windows: int = 5_000_000,
) -> DataFrame:
    """SPAN-level contamination: for each `df` document, the maximal
    token spans of length ≥ `min_len` that appear VERBATIM anywhere in
    `reference` (the held-out eval/benchmark set), as
    (id, span_start, span_end, span_tokens) — the positional
    complement of :func:`contamination_check` (which scores gram
    overlap but cannot say WHERE), and what a decontamination pass
    actually redacts (GPT-3 App. C removes 13-gram-collision windows).

    Works UNCHANGED on a Structured-Streaming `df`: the reference's
    distinct window keys are a driver-side artifact collected at plan
    time (bounded by `max_reference_windows` — eval sets are small by
    nature; a reference over the cap raises instead of silently
    truncating), and everything per-document — windowing, membership,
    island merge — happens inside one stateless Arrow kernel, so the
    plan is a pure map with no shuffle at all. Keys are the same
    rolling-polynomial 128-bit window keys as :func:`duplicate_spans`
    (engine-internal; the DuckDB twin uses md5 strings and must
    produce identical spans — O_CONTAMINATED_SPANS)."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    L = min_len
    rtext = ref_text_col or text_col
    # ONE bounded job: keys-only shingle (in-kernel per-batch dedup) →
    # distinct → limit-collect. The r13 form ran the reference pass
    # TWICE (a count to enforce the cap, then the collect) and carried
    # (id, pos) payload it immediately dropped.
    rows = (
        _span_keys_arrow(reference, rtext, L)
        .distinct()
        .limit(max_reference_windows + 1)
        .collect()
    )
    if len(rows) > max_reference_windows:
        raise ValueError(
            f"reference has over {max_reference_windows} distinct "
            f"{L}-token windows, over the driver-collect cap — "
            "span-level contamination is designed for bounded "
            "eval/benchmark references; pre-filter the reference or "
            "raise the cap"
        )
    return _span_audit_map(df, id_col, text_col, L, rows)


def strip_contaminated_spans(
    df: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str = "text",
    ref_text_col: str | None = None,
    min_len: int = 8,
    max_reference_windows: int = 5_000_000,
) -> DataFrame:
    """The decontamination SCRUBBER: remove every token covered by a
    ≥ `min_len`-token span that appears verbatim in `reference`, and
    return (id, clean_text, kept_tokens, removed_tokens) with the
    family's normalized (lowercased, whitespace-collapsed) text.

    Like :func:`contaminated_spans` this is ONE stateless Arrow map —
    membership, island merge and text reassembly all happen per
    document inside the kernel — so it runs unchanged on a
    Structured-Streaming crawl: the live decontamination pass a
    training-data intake runs before anything touches the corpus.
    (The self-corpus analogue :func:`strip_duplicate_spans` needs
    global gram counts and therefore shuffles; against a BOUNDED
    reference the whole job is map-side.)"""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    L = min_len
    rtext = ref_text_col or text_col
    # ONE bounded job (see contaminated_spans — count+collect fused)
    rows = (
        _span_keys_arrow(reference, rtext, L)
        .distinct()
        .limit(max_reference_windows + 1)
        .collect()
    )
    if len(rows) > max_reference_windows:
        raise ValueError(
            f"reference has over {max_reference_windows} distinct "
            f"{L}-token windows, over the driver-collect cap — "
            "span-level contamination is designed for bounded "
            "eval/benchmark references; pre-filter the reference or "
            "raise the cap"
        )
    return _span_strip_map(df, id_col, text_col, L, rows)


def _span_keys_arrow(corpus: DataFrame, text_col: str, L: int) -> DataFrame:
    """Per-batch-UNIQUE window keys (__kh, __kl) — the keys-only twin
    of :func:`_span_occurrences_arrow`: same tokenization, token-md5
    memo and polynomial window keys, but no (id, pos) payload and the
    batch's keys dedup in-kernel (np.unique over the packed 16-byte
    pair) before they ever reach Arrow — corpus windows repeat ~10× at
    the graded SFs, so the downstream distinct's exchange shrinks by
    that factor."""
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    B1 = int.from_bytes(hashlib.md5(b"spanbase1").digest()[:8], "big") | 1
    B2 = int.from_bytes(hashlib.md5(b"spanbase2").digest()[:8], "big") | 1
    pw1 = np.empty(L, dtype=np.uint64)
    pw2 = np.empty(L, dtype=np.uint64)
    a = b = 1
    for j in range(L - 1, -1, -1):
        pw1[j] = a & 0xFFFFFFFFFFFFFFFF
        pw2[j] = b & 0xFFFFFFFFFFFFFFFF
        a = (a * B1) & 0xFFFFFFFFFFFFFFFF
        b = (b * B2) & 0xFFFFFFFFFFFFFFFF

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def tok_h(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int.from_bytes(
                    hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
                )
                memo[t] = v
            return v

        for pdf in batches:
            k1c, k2c = [], []
            for txt in pdf[text_col]:
                toks = [t for t in ws.split((txt or "").lower()) if t]
                n = len(toks) - L + 1
                if n <= 0:
                    continue
                H = np.fromiter(
                    (tok_h(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                W = np.lib.stride_tricks.sliding_window_view(H, L)
                k1c.append((W * pw1).sum(axis=1).view(np.int64))
                k2c.append((W * pw2).sum(axis=1).view(np.int64))
            if not k1c:
                yield pd.DataFrame(
                    {
                        "__kh": np.array([], dtype=np.int64),
                        "__kl": np.array([], dtype=np.int64),
                    }
                )
                continue
            pair = np.ascontiguousarray(
                np.column_stack((np.concatenate(k1c), np.concatenate(k2c)))
            )
            # byte-wise unique over the packed (kh, kl) pair — memcmp
            # equality, safe for arbitrary int64 bit patterns
            uniq = np.unique(pair.view([("h", np.int64), ("l", np.int64)]))
            yield pd.DataFrame(
                {"__kh": uniq["h"].ravel(), "__kl": uniq["l"].ravel()}
            )

    from kamu_cli_spark.operators.util import spread

    return spread(corpus.select(text_col)).mapInPandas(
        run, "__kh long, __kl long"
    )


def corpus_window_keys(
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """DISTINCT 128-bit window keys (__kh, __kl int64 pair) of every
    `min_len`-token window in a STATIC corpus — the fully distributed,
    unbounded counterpart of :func:`contaminated_spans`' capped
    driver-side eval artifact. One keys-only Arrow shingling pass with
    in-kernel per-batch dedup (:func:`_span_keys_arrow`) + one
    map-side-combined distinct; never touches the driver, so the
    reference can be the whole curated corpus, not just an eval set."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    return _span_keys_arrow(corpus, text_col, min_len).distinct()


def _blocked_bloom_cols(n_bits: int, n_hashes: int) -> tuple[Column, Column]:
    """(word_idx, mask) for a (__kh, __kl) int64-pair key in a
    REGISTER-BLOCKED Bloom filter: xxhash64(kh, kl) picks one of
    ceil(n_bits/62) words, and all `n_hashes` bits land INSIDE that
    word (xxhash64(kh, kl, i) picks the bit) — so membership is ONE
    broadcast join + one (word & mask) == mask test, where the classic
    layout needed k joins each copying the full occurrence row set
    (~1.9 s of pure join row-copying at sf1).

    ENGINE-INTERNAL (unlike :func:`_bloom_pos`, which stays
    md5-over-string because the gram-novelty DuckDB oracle replicates
    its exact bits): the against-corpus family's results are made
    exact by the confirmation semi join, so this hash family only has
    to be cheap and uniform. FP rate: with b average set bits per word
    the per-probe pass rate is ~(b/62)^k — at the family's default
    sizing (≥ 16 bits/key ⇒ b ≤ ~62·k/16 per loaded word) that is
    well under 0.1%, and FP only moves the prefilter's selectivity,
    never the result."""
    n_words = max(1, (n_bits + _BLOOM_WORD_BITS - 1) // _BLOOM_WORD_BITS)
    widx = F.pmod(F.xxhash64(F.col("__kh"), F.col("__kl")), F.lit(n_words))
    mask = None
    for i in range(n_hashes):
        bit = F.expr(
            f"shiftleft(1L, int(pmod(xxhash64(__kh, __kl, {i + 1}),"
            f" {_BLOOM_WORD_BITS})))"
        )
        mask = bit if mask is None else mask.bitwiseOR(bit)
    return widx.alias("word_idx"), mask.alias("__mask")


def _long_bloom_words(
    keys: DataFrame, n_bits: int, n_hashes: int
) -> DataFrame:
    """Blocked-Bloom bitmap over (__kh, __kl) int64-pair keys as
    (word_idx, word) rows — one map-side-combined bit_or shuffle,
    ≤ ceil(n_bits/62) rows regardless of key count."""
    widx, mask = _blocked_bloom_cols(n_bits, n_hashes)
    return (
        keys.select(widx, mask)
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").alias("word"))
    )


def _long_bloom_filter(
    occ: DataFrame, words: DataFrame, n_bits: int, n_hashes: int
) -> DataFrame:
    """Keep only `occ` rows whose (__kh, __kl) key passes the bitmap —
    ONE broadcast join on the word index; the occurrence side never
    shuffles."""
    widx, mask = _blocked_bloom_cols(n_bits, n_hashes)
    out = occ.withColumns({"word_idx": widx, "__mask": mask}).join(
        F.broadcast(words), "word_idx", "left"
    )
    hit = F.coalesce(
        F.col("word").bitwiseAND(F.col("__mask")) == F.col("__mask"),
        F.lit(False),
    )
    return out.filter(hit).drop("word_idx", "__mask", "word")


def _confirmed_span_hits(
    df: DataFrame,
    keys: DataFrame,
    id_col: str,
    text_col: str,
    L: int,
    prefilter: bool,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """(id, pos) of every `df` window whose key is in `keys` — exact.
    With `prefilter`, windows first pass the broadcast Bloom over the
    key set (long-native :func:`_long_bloom_words` /
    :func:`_long_bloom_filter` on the (__kh, __kl) pair): map-side
    joins only, so the overwhelmingly-negative crawl windows exit
    BEFORE the confirmation join's exchange — at 100 TB the crawl
    never ships, only bloom-positive candidates do. Bloom false
    positives are removed by the exact stream-static LEFT SEMI join;
    false negatives don't exist, so the result is identical with
    prefilter on or off. Everything here is stream-legal (maps,
    broadcast joins, and a stream-static semi join with `df` on the
    left)."""
    occ = _span_occurrences_arrow(df, id_col, text_col, L)
    if prefilter:
        words = _long_bloom_words(keys, n_bits, n_hashes)
        occ = _long_bloom_filter(occ, words, n_bits, n_hashes)
    return occ.join(keys, ["__kh", "__kl"], "left_semi").select(id_col, "pos")


def _merge_islands_py(pos_sorted, L):
    """Maximal [start, end] runs of L-token windows whose starts are
    `pos_sorted` (ascending): successive windows over L apart break the
    run — the same merge duplicate_spans does in SQL window functions
    and contaminated_spans does in-kernel."""
    spans = []
    if len(pos_sorted) == 0:
        return spans
    s0 = prev = int(pos_sorted[0])
    for p in pos_sorted[1:]:
        p = int(p)
        if p - prev > L:
            spans.append((s0, prev + L - 1))
            s0 = p
        prev = p
    spans.append((s0, prev + L - 1))
    return spans


#: Stats guard of the against-corpus collect: Catalyst's size estimate
#: of the corpus must be at or under this for the key probe to run.
SPAN_CORPUS_COLLECT_BYTES = 1 << 30
#: Default key cap of that probe: 5M keys = 80 MB of driver arrays
#: (the contaminated_spans artifact class).
SPAN_CORPUS_COLLECT_KEYS = 5_000_000


def _bounded_corpus_key_rows(
    keys: DataFrame, corpus: DataFrame, collect_max_keys: int | None
):
    """list[Row] | None — collect the static corpus's distinct window
    keys when that is affordable, enabling the against-corpus family's
    all-in-kernel path (the result is IDENTICAL either way: membership
    is the same (__kh, __kl) int64-pair equality the confirmation semi
    join evaluates).

    Two guards keep the 100 TB story honest:
    - zero-cost stats guard: Catalyst's logical size estimate of the
      corpus (file-index bytes for scans, tens of ms — the
      util.spread idiom) must be at or under
      SPAN_CORPUS_COLLECT_BYTES (1 GiB). At real corpus scale the
      probe job is never launched and the distributed Bloom +
      semi-join path runs untouched.
    - hard key cap: the probe collects at most `collect_max_keys`
      (None → SPAN_CORPUS_COLLECT_KEYS; 0 forces the distributed
      path — how tests pin it) + 1 rows in ONE job; over the cap the
      probe is discarded and the distributed path runs (one wasted
      bounded job, only reachable under the stats guard).
    Unknown stats (no file index, e.g. an exotic source) → None."""
    if collect_max_keys is None:
        collect_max_keys = SPAN_CORPUS_COLLECT_KEYS
    if collect_max_keys <= 0 or corpus.isStreaming:
        return None
    est = plan_bytes(corpus)
    if est is None or est > SPAN_CORPUS_COLLECT_BYTES:
        return None
    rows = keys.limit(collect_max_keys + 1).collect()
    if len(rows) > collect_max_keys:
        return None
    return rows


def spans_against_corpus(
    df: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    corpus_text_col: str | None = None,
    min_len: int = 8,
    prefilter: bool = True,
    n_bits: int = 1 << 24,
    n_hashes: int = 7,
    collect_max_keys: int | None = None,
) -> DataFrame:
    """Maximal ≥ `min_len`-token spans of `df` documents that appear
    VERBATIM anywhere in a STATIC `corpus`, as (id, span_start,
    span_end, span_tokens) — :func:`contaminated_spans` semantics, but
    the reference is an UNBOUNDED curated corpus whose window keys stay
    distributed (no driver cap): dedup_against semantics at span level.

    Works on a batch `df` or a live Structured-Streaming crawl. The
    corpus side must be static (its keys are re-evaluated per
    micro-batch unless the caller persists :func:`corpus_window_keys`
    output and passes it via `corpus` pre-shingled — see
    `strip_spans_against_corpus` for the same note). Stream plan:
    Arrow window map → broadcast Bloom prefilter (map-side negative
    exit) → stream-static LEFT SEMI confirmation → per-doc island
    merge via applyInPandasWithState (stateless in effect: a doc is
    one source row, so all its hits share a micro-batch; no state is
    ever stored). Batch plan: identical until the merge, which uses
    the same SQL windows as :func:`duplicate_spans`.

    Size `n_bits` ≈ 10-16× the corpus's distinct window count (default
    2^24 covers ~1.6M windows at <1% FP; FP rate only moves the
    prefilter's selectivity, never the result).

    Bounded-corpus fast path: when Catalyst's size estimate says the
    corpus is small (see :func:`_bounded_corpus_key_rows`) its distinct
    keys collect in one bounded job and the whole query becomes the
    contaminated_spans kernel — scan → Arrow map, zero joins, zero
    shuffles, identical result (same key-pair equality). Past the
    stats guard the distributed plan above runs unchanged."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    L = min_len
    keys = corpus_window_keys(
        corpus, id_col, corpus_text_col or text_col, L
    )
    rows = _bounded_corpus_key_rows(keys, corpus, collect_max_keys)
    if rows is not None:
        return _span_audit_map(df, id_col, text_col, L, rows)
    hits = _confirmed_span_hits(
        df, keys, id_col, text_col, L, prefilter, n_bits, n_hashes
    )
    if not df.isStreaming:
        return _merge_hit_islands(hits, id_col, L)

    import pandas as pd

    out_schema = (
        f"`{id_col}` long, span_start long, span_end long, span_tokens long"
    )

    def merge(key, pdfs, state):
        pos = sorted(int(p) for pdf in pdfs for p in pdf["pos"])
        ids, starts, ends, lens = [], [], [], []
        for s, e in _merge_islands_py(pos, L):
            ids.append(key[0])
            starts.append(s)
            ends.append(e)
            lens.append(e - s + 1)
        yield pd.DataFrame(
            {
                id_col: pd.Series(ids, dtype="int64"),
                "span_start": pd.Series(starts, dtype="int64"),
                "span_end": pd.Series(ends, dtype="int64"),
                "span_tokens": pd.Series(lens, dtype="int64"),
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return hits.groupBy(id_col).applyInPandasWithState(
        merge,
        out_schema,
        "unused int",  # never written: a doc's hits share one batch
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _merge_hit_islands(hits: DataFrame, id_col: str, L: int) -> DataFrame:
    """Batch island merge: duplicate_spans' per-doc window over
    (id, pos) hit positions, factored for reuse by the against-corpus
    family."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    gapped = hits.withColumn(
        "__new",
        F.when(F.col("pos") - F.lag("pos").over(w) > L, 1).otherwise(0),
    )
    isl = gapped.withColumn("__island", F.sum("__new").over(w))
    return (
        isl.groupBy(id_col, "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (L - 1)).cast("long").alias("span_end"),
            (F.max("pos") + (L - 1) - F.min("pos") + 1)
            .cast("long")
            .alias("span_tokens"),
        )
        .drop("__island")
    )


def strip_spans_against_corpus(
    df: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    corpus_text_col: str | None = None,
    min_len: int = 8,
    prefilter: bool = True,
    n_bits: int = 1 << 24,
    n_hashes: int = 7,
    collect_max_keys: int | None = None,
) -> DataFrame:
    """Remove every `df` token covered by a ≥ `min_len`-token span
    that appears verbatim in the STATIC `corpus`; returns (id,
    clean_text, kept_tokens, removed_tokens) with the family's
    normalized text, one row PER INPUT DOC (clean docs pass through
    with removed_tokens = 0). The streaming twin of
    :func:`strip_duplicate_spans`'s against-corpus use case — the
    live "don't re-ingest what the curated corpus already contains"
    pass a training-data intake runs on a crawl.

    Plan, batch: per-doc hit positions fold into arrays (one
    map-side-combined collect_list exchange — bounded by the doc's own
    window count), LEFT join back onto the docs, and ONE vectorized
    Arrow map rebuilds all texts (per-doc applyInPandas groups measured
    2.3 ms of pandas overhead EACH — 77 s at sf1 — versus 10 s for the
    batched kernel). Stream: the hit rows (12 B each) union with one
    text-bearing row per doc and a per-doc applyInPandasWithState
    kernel rebuilds (a doc and its hits always share a micro-batch, so
    no state is ever stored; micro-batches are small, so per-group
    overhead doesn't compound).

    Bounded-corpus fast path: same cost-based switch as
    :func:`spans_against_corpus` — a small corpus's keys collect once
    and the whole scrub (batch or stream) is the strip kernel, one
    Arrow map over the crawl with zero joins; identical result."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    L = min_len
    keys = corpus_window_keys(
        corpus, id_col, corpus_text_col or text_col, L
    )
    rows = _bounded_corpus_key_rows(keys, corpus, collect_max_keys)
    if rows is not None:
        return _span_strip_map(df, id_col, text_col, L, rows)
    hits = _confirmed_span_hits(
        df, keys, id_col, text_col, L, prefilter, n_bits, n_hashes
    )

    import re

    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    out_schema = (
        f"`{id_col}` long, clean_text string, kept_tokens long, "
        "removed_tokens long"
    )

    import numpy as np

    def strip_one(text, pos_list):
        toks = [t for t in ws.split((text or "").lower()) if t]
        n = len(toks)
        if len(pos_list) == 0:
            return " ".join(toks), n, 0
        # covered positions via a diff array — the per-position Python
        # loop (L appends per hit window) measured ~17 s at sf10 where
        # the corpus-heavy overlap yields 15.7M hit windows; np.add.at
        # is O(hits + n) in C
        pos = np.asarray(pos_list, dtype=np.int64)
        delta = np.zeros(n + 1, dtype=np.int32)
        np.add.at(delta, np.minimum(pos, n), 1)
        np.add.at(delta, np.minimum(pos + L, n), -1)
        covered = np.cumsum(delta[:n]) > 0
        kept_arr = np.array(toks, dtype=object)[~covered]
        kept = int(n - int(covered.sum()))
        return " ".join(kept_arr), kept, n - kept

    if not df.isStreaming:
        pos_arr = hits.groupBy(id_col).agg(F.collect_list("pos").alias("__hp"))
        joined = df.select(
            F.col(id_col), F.col(text_col).cast("string").alias("__txt")
        ).join(pos_arr, id_col, "left")

        def run(batches):
            for pdf in batches:
                ids, cleans, kepts, removeds = [], [], [], []
                for i, txt, hp in zip(pdf[id_col], pdf["__txt"], pdf["__hp"]):
                    clean, k, r = strip_one(
                        txt, [] if hp is None or hp is pd.NA else hp
                    )
                    ids.append(int(i))
                    cleans.append(clean)
                    kepts.append(k)
                    removeds.append(r)
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(ids, dtype="int64"),
                        "clean_text": pd.Series(cleans, dtype="object"),
                        "kept_tokens": pd.Series(kepts, dtype="int64"),
                        "removed_tokens": pd.Series(removeds, dtype="int64"),
                    }
                )

        from kamu_cli_spark.operators.util import spread

        # AQE coalesces the text⋈positions join output to ~64 MB
        # partitions, which ran the rebuild kernel a handful wide on 32
        # cores (the kmeans-fit / shingler lesson) — re-spread before
        # the per-row-heavy Arrow pass
        return spread(joined).mapInPandas(run, out_schema)

    docs = df.select(
        F.col(id_col),
        F.lit(None).cast("int").alias("pos"),
        F.col(text_col).cast("string").alias("__txt"),
    )
    both = docs.unionByName(
        hits.select(
            F.col(id_col), F.col("pos"), F.lit(None).cast("string").alias("__txt")
        )
    )

    def strip_state(key, pdfs, state):
        text = None
        pos: list[int] = []
        for pdf in pdfs:
            for p, t in zip(pdf["pos"], pdf["__txt"]):
                if t is not None and not (isinstance(t, float) and pd.isna(t)):
                    text = t
                elif not pd.isna(p):
                    pos.append(int(p))
        clean, k, r = strip_one(text, pos)
        yield pd.DataFrame(
            {
                id_col: pd.Series([int(key[0])], dtype="int64"),
                "clean_text": pd.Series([clean], dtype="object"),
                "kept_tokens": pd.Series([k], dtype="int64"),
                "removed_tokens": pd.Series([r], dtype="int64"),
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return both.groupBy(id_col).applyInPandasWithState(
        strip_state,
        out_schema,
        "unused int",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def gram_saturation(
    df: DataFrame,
    n_buckets: int = 10,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus diversity / dedup-saturation curve: attribute every
    DISTINCT n-gram to the bucket of its FIRST-seen document (buckets
    = id-range deciles, ``div(id * n_buckets, max_id + 1)``) and
    report per bucket how many of its gram occurrences were NEW to
    the corpus — the curve data-scaling work reads to decide when a
    source stops contributing novel text (novelty falling toward 0 =
    the crawl is saturating; budget is better spent elsewhere). Exact
    and deterministic: first-seen is min(id) per distinct gram, ties
    impossible by keying on the id itself.

    Output: (bucket, n_windows, n_new_grams, novelty_e6) with
    ``novelty_e6 = div(1e6 * n_new_grams, n_windows)``, one row per
    bucket that has at least one window.

    Scale shape: ONE Arrow shingling pass
    (:func:`_span_occurrences_arrow` — the 128-bit rolling-polynomial
    window keys; a cross-gram collision would under-count novelty and
    fail the strict oracle) feeding two map-side-combined aggregates:
    gram-keyed min(id) (the honest data-sized shuffle, same key the
    substring-dedup family shuffles on) and a bucket-keyed count
    (n_buckets rows). Everything after is bucket-sized. The only
    driver traffic is the 1-row max(id) (bounded-artifact contract).
    Valid while max_id * n_buckets < 2^63."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    if shingle_n < 2:
        raise ValueError("shingle_n must be >= 2")
    mx_row = df.agg(F.max(F.col(id_col)).alias("m")).collect()[0]
    if mx_row["m"] is None:
        raise ValueError("gram_saturation: empty corpus")
    denom = int(mx_row["m"]) + 1

    occ = _span_occurrences_arrow(df, id_col, text_col, shingle_n)

    def bucket(col: str):
        return F.expr(f"div({col} * {n_buckets}, {denom})")

    wins = occ.groupBy(bucket(id_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_windows")
    )
    firsts = occ.groupBy("__kh", "__kl").agg(
        F.min(F.col(id_col)).alias("__fid")
    )
    news = firsts.groupBy(bucket("__fid").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_new_grams")
    )
    return (
        wins.join(news, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_windows",
            F.coalesce(F.col("n_new_grams"), F.lit(0))
            .cast("long")
            .alias("n_new_grams"),
            F.expr(
                "div(1000000 * coalesce(n_new_grams, 0), n_windows)"
            ).alias("novelty_e6"),
        )
    )

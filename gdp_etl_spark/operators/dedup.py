"""Deduplication operators over the documents table.

Four families, each picked for a different point on the
exactness/recall/cost curve at 100-TB scale:

* exact         — md5-hash groupBy; one shuffle keyed on the hash, never
                  on the full text (hashing first keeps shuffle bytes
                  tiny and skew bounded).
* MinHash + LSH — shingle → k permuted min-hashes → band buckets →
                  candidate pairs only within buckets → exact Jaccard
                  verify.  Shuffle volume is O(docs × bands), not
                  O(docs²); all hashing via built-in higher-order array
                  functions (seeded xxhash64 per permutation), zero UDFs.
* SimHash       — 64-bit signatures via an Arrow-batched pandas UDF
                  (per-bit majority vote genuinely needs numpy); Hamming
                  candidates by pigeonhole over 16-bit chunks.
* n-gram Jaccard / embedding-cosine — exact verifies used standalone or
  as the LSH verify stage.

The persisted exact-dedup and MinHash indexes (write / append / probe /
compact) keep only their columns, bucket keys and ``minhash.`` stamp
here; every create, append, stamp and compaction swap goes through the
persisted-table store in :mod:`gdp_etl_spark.io`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.storagelevel import StorageLevel

from ..functions.text import shingles
from ..functions.vectors import cosine_exact_arrow
from ..io import (
    append_table,
    compact_table,
    create_table,
    read_stamp,
    write_bucketed_table,
)

# Mersenne prime modulus → deterministic seeded-xxhash64 MinHash perms.
_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact text.  Grouping on
    md5(text) instead of text keeps shuffle keys 16 bytes regardless of
    document size; md5 collisions are negligible for dedup purposes (and
    portable to the SQL oracle, unlike xxhash)."""
    return (
        df.withColumn("__h", F.md5(F.col(text_col)))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__h")
    )


def _perm_hash(i: int):
    """Closure factory returning a 1-arg HOF lambda for permutation ``i``.

    Must be a factory: PySpark derives the higher-order-function arity from
    the lambda's parameter count, so capturing ``i`` via a default argument
    (``lambda s, i=i: ...``) silently builds a 2-arg (element, index) lambda
    and fails analysis.  Each permutation is an independent seeded hash
    (``xxhash64(shingle, i)``) rather than an affine ``a*h+b`` map — no
    multiplication, so no 64-bit overflow for any input.
    """
    return lambda s: F.pmod(F.xxhash64(s, F.lit(i)), F.lit(_MERSENNE))


def _signature_from_shingles(sh: Column, num_perm: int) -> Column:
    """array<bigint> of ``num_perm`` min-hashes over a *materialized*
    shingle-array column: for permutation i, min of
    ``xxhash64(shingle, i) mod M61``.  All arithmetic is bigint built-ins
    and every intermediate is < 2^61 — overflow-free under both ANSI
    modes."""
    return F.array(
        *[F.array_min(F.transform(sh, _perm_hash(i))) for i in range(num_perm)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, signature) per document.  The shingle array is materialized
    into a column BEFORE fanning out to ``num_perm`` permutations —
    inlining it would make Catalyst re-evaluate the O(tokens × k)
    shingling expression once per permutation (measured 10× slower at
    sf0.1)."""
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_k).alias("__sh")
    )
    return sh.select(
        F.col(id_col), _signature_from_shingles(F.col("__sh"), num_perm).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Banding: signature split into ``bands`` rows of ``num_perm/bands``
    hashes; docs sharing any full band collide into a candidate bucket.
    The bucket join is an equi-join on (band_index, band_hash) — the only
    shuffle, sized by candidates rather than the corpus square.  Final
    exact Jaccard over shingle sets kills false positives."""
    # the shingle frame feeds the signature path AND both sides of the
    # verify join — persist so the O(tokens·k) shingling runs once, not
    # three times (MEMORY_AND_DISK: spills instead of recomputing at
    # corpus scale; evicted LRU / released with the session)
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_k).alias("sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig = sh.select(
        F.col(id_col),
        _signature_from_shingles(F.col("sh"), num_perm).alias("__sig"),
    )
    banded = _banded(id_col, sig, num_perm, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # The verify joins pull shingle arrays to the candidate pairs.  The
    # candidate set is 16 B/row and near-dup-sized (≪ corpus), so
    # broadcasting it keeps the WIDE side (shingle arrays) unshuffled —
    # measured 2-3× on the end-to-end pass.  Disable for adversarial
    # bucket skew where candidates could rival the corpus (then the
    # arrays shuffle by id instead, which always completes).
    if broadcast_candidates:
        candidates = F.broadcast(candidates)

    verified = (
        candidates.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
    bucket_col: str | None = None,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.  Without ``bucket_col``
    this is all-pairs (quadratic); that path is the canonical
    scale-killer, so it must be opted into explicitly with
    ``allow_all_pairs=True`` (verification-scale only) — production
    blocks on a cheap key or feeds LSH buckets (minhash above)."""
    if bucket_col is None and not allow_all_pairs:
        raise ValueError(
            "all-pairs n-gram Jaccard is quadratic; pass bucket_col=... to "
            "block, or allow_all_pairs=True for verification-scale use"
        )
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_k).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    if bucket_col is not None:
        sh = sh.join(df.select(id_col, bucket_col), id_col)
    # materialize the shingle arrays before self-joining: without the
    # barrier the shingling HOF inlines into BOTH join sides and is
    # re-evaluated per candidate pair instead of per document (measured
    # ~10× on the sf0.1 lang-blocked self-join)
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if bucket_col is not None:
        cond = cond & (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
    # sound containment bound: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    # J >= θ implies the size ratio is >= θ.  An O(1) size predicate in
    # the join condition prunes the candidate pairs BEFORE the O(n)
    # intersect/union runs — semantics-free speedup (the oracle carries
    # the same bound).  Integer form avoids float compare: |A| >= θ|B|.
    cond = (
        cond
        & (
            F.col("a.n_sh") * F.lit(100)
            >= F.col("b.n_sh") * F.lit(int(threshold * 100))
        )
        & (
            F.col("b.n_sh") * F.lit(100)
            >= F.col("a.n_sh") * F.lit(int(threshold * 100))
        )
    )
    return (
        a.join(b, cond)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
            / F.size(F.array_union("a.sh", "b.sh")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "jaccard",
        )
    )


# --------------------------------------------------------------------------
# SimHash — the one legitimately-numpy operator (per-bit majority vote)
# --------------------------------------------------------------------------
def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched pandas UDF: token
    hashes vote per bit position; sign of the vote sets the bit.  numpy
    unpackbits keeps the inner loop vectorized — this is the documented
    exception to the no-UDF rule (64 per-bit aggregates have no sane
    built-in expression)."""
    import numpy as np

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                continue
            hs = np.array(
                [hash64(tok) for tok in toks], dtype=np.uint64
            )
            bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
            # signed accumulator: the uint8 bit sums would underflow on
            # ``*2 - len`` and make every vote "positive" (all-(-1) sigs).
            votes = bits.sum(axis=0).astype(np.int64) * 2 - len(toks)
            sig_bits = (votes > 0).astype(np.uint8)
            out[i] = np.packbits(sig_bits, bitorder="little").view(np.int64)[0]
        return pd.Series(out)

    def hash64(token: str) -> int:
        # FNV-1a 64-bit: deterministic across processes (unlike Python hash()).
        h = 0xCBF29CE484222325
        for byte in token.encode("utf-8"):
            h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    return df.select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(sig_a, sig_b) ≤ max_hamming.  Pigeonhole:
    split 64 bits into max_hamming + 1 chunks — any pair within distance
    agrees on ≥1 chunk, so candidates come from chunk equi-joins
    (shuffle keyed on short chunk values, never all-pairs)."""
    # materialize before the self-join: both sides consume the frame, so
    # without the barrier the Arrow-batched signature UDF runs twice
    sig = simhash_signatures(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return hamming_pairs(sig, "simhash", id_col, max_hamming)


def hamming_pairs(
    sig: DataFrame, sig_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pigeonhole Hamming near-dup pairing over any 64-bit signature
    column (SimHash, perceptual image hash, …): split the 64 bits into
    ``max_hamming + 1`` chunks — at most ``max_hamming`` bits differ,
    so by pigeonhole any pair within distance agrees on ≥ 1 chunk —
    generate candidates by chunk equi-join, verify with exact
    ``bit_count(xor)``.  Shuffle keys on chunk values, never all-pairs.

    The chunk count DERIVES from ``max_hamming`` (the fixed 4×16-bit
    split guarantees recall only for distance ≤ 3 and silently missed
    pairs for larger legal thresholds).  Trade-off a caller should
    know: more chunks = shorter chunks = more candidate collisions, so
    large ``max_hamming`` degrades toward all-pairs; ≤ ~8 stays sharp
    on 64-bit signatures."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if max_hamming >= 64:
        raise ValueError(
            f"max_hamming={max_hamming} over a 64-bit signature matches "
            "everything — that is a cross join, not a near-dup screen"
        )
    n_chunks = max_hamming + 1
    base, extra = divmod(64, n_chunks)  # `extra` chunks get base+1 bits
    widths = [base + 1 if c < extra else base for c in range(n_chunks)]
    starts = [sum(widths[:c]) for c in range(n_chunks)]

    def _chunk(c: int):
        shifted = F.shiftrightunsigned(F.col(sig_col), starts[c])
        if widths[c] >= 64:  # max_hamming=0: one chunk = the whole sig
            return shifted
        return shifted.bitwiseAND(F.lit((1 << widths[c]) - 1))

    chunks = sig.select(
        id_col,
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        _chunk(c).alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select(id_col, sig_col, F.col("cc.chunk_idx").alias("chunk_idx"), F.col("cc.chunk").alias("chunk"))

    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{sig_col}").alias("sig_a"),
            F.col(f"b.{sig_col}").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    bucket_col: str | None = None,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine ≥ threshold.
    All-pairs without ``bucket_col`` is quadratic and must be opted into
    with ``allow_all_pairs=True`` (exact verification baseline); the
    scale path feeds ``similarity.hyperplane_lsh_bucket`` output as the
    blocker."""
    if bucket_col is None and not allow_all_pairs:
        raise ValueError(
            "all-pairs cosine is quadratic; pass bucket_col=... (e.g. from "
            "similarity.hyperplane_lsh_bucket) or allow_all_pairs=True for "
            "verification-scale use"
        )
    cols = [id_col, vec_col] + ([bucket_col] if bucket_col else [])
    v = df.select(*cols)
    a, b = v.alias("a"), v.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if bucket_col:
        cond = cond & (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
    return (
        a.join(b, cond)
        .withColumn(
            "cos",
            # r16: Arrow-vectorized bit-identical twin — the interpreted
            # fold paid ~15 µs per candidate pair (guide §4.2)
            cosine_exact_arrow(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("cos").alias("cos_sim"),
        )
    )


def fuzzy_levenshtein_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 16,
    band_width: int | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs with length-band blocking.

    Blocking: docs are bucketed by ``floor(len/band_width)``; one side
    expands to its band ±1 so every pair with ``|len_a − len_b| ≤
    max_dist`` meets in exactly one bucket (guaranteed when
    ``band_width ≥ max_dist`` — the default ties them).  The join is a
    plain equi-join on the band: shuffle ∝ docs, never all-pairs.
    Candidates are prefiltered on length difference (an edit-distance
    lower bound) before the O(n·m) levenshtein, which runs with Spark's
    early-exit threshold form (returns −1 past ``max_dist``).

    Levenshtein (unit insert/delete/substitute) is implemented
    identically in DuckDB, so the operator is oracle-checkable.
    """
    if band_width is None:
        band_width = max_dist
    if band_width < max_dist:
        raise ValueError("band_width < max_dist loses cross-band pairs")
    norm = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    v = df.select(
        F.col(id_col).alias("id"),
        norm.alias("t"),
        F.floor(F.length(norm) / band_width).cast("bigint").alias("band"),
    )
    left = v.select(
        "id", "t",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    )
    a, b = left.alias("a"), v.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .filter(
            F.abs(F.length(F.col("a.t")) - F.length(F.col("b.t"))) <= max_dist
        )
        .withColumn(
            "dist", F.levenshtein(F.col("a.t"), F.col("b.t"), max_dist)
        )
        .filter(F.col("dist") != -1)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
) -> DataFrame:
    """Set-similarity self-join by PREFIX FILTERING (PPJoin family,
    Chaudhuri et al. / Xiao et al.): the candidate generator whose
    fan-out adapts to token rarity instead of a fixed blocking key.

    Order every document's distinct token set by GLOBAL frequency
    (rarest first, lexicographic tie-break); two sets with Jaccard ≥ t
    must share a token within each other's first ``n − ⌈t·n⌉ + 1``
    tokens — so only those prefix tokens are exploded, and candidates
    equi-join on them.  Prefix tokens are by construction each
    document's RAREST, so per-token fan-out is small even when the
    corpus shares a huge head vocabulary — the precise weakness of
    attribute- or bucket-blocked Jaccard (``ngram_jaccard_pairs``).
    Survivors verify with exact integer set arithmetic
    (``|A∩B|·10³ ≥ ⌈t·10³⌉·|A∪B|`` — no float boundary).  The
    effective threshold is therefore ``ceil(t·1000)/1000``: a pair
    whose Jaccard exactly equals a non-milli-representable ``t``
    (e.g. 2/3) compares against the next millis step.

    One shuffle for the global token counts, one for the candidate
    join, one distinct over candidate ids; verification joins the
    (persisted) token sets back by id.  Scale-safe at any corpus size
    whose per-document token count is bounded.
    """
    # array_remove drops the "" token that split() yields for empty or
    # whitespace-only text — otherwise every blank doc carries the set
    # {""}, and N blank docs pair quadratically at jaccard 1.0
    toks = df.select(
        F.col(id_col),
        F.array_remove(
            F.array_distinct(
                F.split(F.lower(F.trim(F.col(text_col))), "\\s+")
            ),
            "",
        ).alias("__toks"),
    ).filter(F.size("__toks") > 0).persist(StorageLevel.MEMORY_AND_DISK)

    freq = (
        toks.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # per-doc tokens sorted by (global tf, tok) — the rarest-first
    # total order DIRECTLY, no materialized global rank: a dense
    # row_number rank would funnel the whole vocabulary through one
    # unpartitioned window task, and any monotone bijection of
    # (tf, tok) yields the identical prefix anyway
    by_rank = (
        toks.select(F.col(id_col), F.explode("__toks").alias("tok"))
        .join(freq, "tok")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tf", "tok"))),
                lambda s: s["tok"],
            ).alias("__ordered")
        )
    )
    # EXACT prefix length: float ceil(t*n) can overshoot the rational
    # ceiling (0.8*5 = 4.0000000000000002 -> 5), silently shrinking the
    # prefix and making the filter LOSSY; integer millis arithmetic
    # ((t_mill*n + 999) div 1000) is the exact ceiling
    t_mill = int(-(-threshold * 1000 // 1))  # ceil(t*1000)
    n = F.size("__ordered")
    prefix_len = (
        n
        - F.floor((F.lit(t_mill) * n + 999) / F.lit(1000)).cast("int")
        + 1
    )
    # persist barrier: the prefix frame feeds BOTH sides of the
    # candidate self-join, and the a/b alias difference defeats
    # Spark's ReusedExchange (measured: 0 reuses, the explode→freq-
    # join→groupBy→sort chain ran twice, ~25% of the query's wall)
    prefixes = by_rank.select(
        F.col(id_col),
        F.size("__ordered").alias("__nt"),
        F.explode(F.slice("__ordered", 1, prefix_len)).alias("tok"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = prefixes.select(F.col(id_col).alias("id_a"), F.col("__nt").alias("__na"), "tok")
    b = prefixes.select(F.col(id_col).alias("id_b"), F.col("__nt").alias("__nb"), "tok")
    # length prune before the verify join: J <= min/max of the set
    # sizes, so a pair failing 1000*min >= t_mill*max can never verify
    # (same exact-integer filter as ngram_jaccard_pairs)
    cands = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__na", "__nb") * 1000
                >= F.lit(t_mill) * F.greatest("__na", "__nb")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = toks.select(F.col(id_col).alias("id_a"), F.col("__toks").alias("__ta"))
    tb = toks.select(F.col(id_col).alias("id_b"), F.col("__toks").alias("__tb"))
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("long")
    union = (
        F.size("__ta").cast("long") + F.size("__tb").cast("long") - inter
    )
    result = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("__i", inter)
        .withColumn("__u", union)
        .filter(F.col("__i") * 1000 >= F.lit(t_mill) * F.col("__u"))
        .select(
            "id_a",
            "id_b",
            F.col("__i").alias("n_common"),
            (F.col("__i").cast("double") / F.col("__u").cast("double")).alias(
                "jaccard"
            ),
        )
    )
    # Materialize the (output-sized: verified pairs only) result
    # eagerly so both intermediate caches — which are INPUT-sized and
    # would otherwise pin exploded-prefix data in executor memory for
    # the session lifetime — can be released before returning.
    try:
        result = result.localCheckpoint(eager=True)
    finally:
        prefixes.unpersist()
        toks.unpersist()
    return result


def paragraph_exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_chars: int = 1,
    boundary: str = "\n\n",
) -> DataFrame:
    """Exact SUB-document (paragraph-level) deduplication — the
    keep-first-occurrence repeated-passage removal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), the
    stage web-corpus pipelines run between exact whole-doc dedup and
    fuzzy near-dup: boilerplate headers, license blocks and quoted
    passages repeat across documents that are NOT near-duplicates as
    wholes, so whole-doc operators never see them.

    Semantics (all deterministic):

    * split ``text_col`` on ``boundary``; paragraphs keep their
      within-document position;
    * a paragraph OCCURRENCE survives iff it is the globally FIRST
      occurrence of its trimmed text, ordered by (``id_col``,
      position) — every later copy, in any document, drops;
    * paragraphs shorter than ``min_chars`` after trimming are never
      treated as duplicates (blank/tiny separators carry no signal and
      would otherwise chain-collapse across the corpus);
    * documents reassemble in original paragraph order with
      ``boundary``; a document whose every paragraph was removed
      yields an empty string.

    Returns ``(id_col, text_col (deduped), n_paragraphs, n_removed)``.

    Scale shape — SKEW-SAFE by construction, not by hope: global
    first-occurrence is ``min(struct(id, pos))`` per md5(paragraph) —
    a hash AGGREGATION, so a boilerplate paragraph repeated 10⁹×
    partial-aggregates map-side down to one row per input partition
    before anything shuffles (a rank-1 window over the same key would
    pin all 10⁹ occurrences on a single unsplittable window task —
    window partitions are NOT AQE-divisible).  The occurrences then
    join the bounded firsts table back on the same 16-byte key (AQE
    skew-join splits the hot key), and one groupBy on the doc id
    reassembles.  No self-join anywhere; cost is O(paragraphs), never
    O(pairs).
    """
    # split() takes a Java regex but array_join() a literal — \Q...\E
    # quotes the boundary so both sides agree for any separator string.
    # NULL text coalesces to '' so the document survives as an
    # empty-string row (split(NULL) is NULL and posexplode would drop
    # the row entirely, breaking the documented contract).
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(
                F.coalesce(F.col(text_col), F.lit("")),
                "\\Q" + boundary + "\\E",
            )
        ).alias("__pos", "__para"),
    ).withColumn("__trimmed", F.trim("__para"))
    eligible = F.length("__trimmed") >= min_chars
    firsts = (
        paras.filter(eligible)
        .groupBy(F.md5("__trimmed").alias("__h"))
        .agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first")
        )
    )
    # ineligible (blank/tiny) occurrences get a per-occurrence salted
    # key: md5('') would funnel every blank paragraph of the corpus
    # into ONE join partition; the salt spreads them uniformly and
    # provably misses the firsts table
    ranked = paras.withColumn(
        "__h",
        F.when(eligible, F.md5("__trimmed")).otherwise(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col(id_col).cast("string"),
                    F.col("__pos").cast("string"),
                )
            )
        ),
    ).join(firsts, "__h", "left")
    kept = ~eligible | (
        F.struct(F.col(id_col), F.col("__pos")) == F.col("__first")
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept,
                                F.struct(
                                    F.col("__pos"), F.col("__para")
                                ),
                            )
                        )
                    ),
                    lambda s: s["__para"],
                ),
                boundary,
            ).alias(text_col),
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias(
                "n_removed"
            ),
        )
        .select(id_col, text_col, "n_paragraphs", "n_removed")
    )


def exact_dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Exact dedup that keeps the HIGHEST-QUALITY copy of each text
    rather than the first: when the same document arrives from several
    sources (mirrors, re-crawls, pre/post-boilerplate variants keyed by
    normalized text), pretraining pipelines keep the copy with the best
    quality signal, not the lowest id.  Ties break on ascending
    ``id_col`` so the result is deterministic.

    Returns every surviving row (all original columns) plus
    ``dup_count`` (how many copies the survivor represents).

    Scale shape: same discipline as :func:`exact_dedup` — shuffles key
    on md5(text) (16-byte keys regardless of document size): winners
    partial-aggregate map-side, then an AQE-skew-splittable join back.

    NULL semantics: NULL texts form ONE duplicate group (one survivor);
    NULL quality ranks below every real quality (DESC NULLS LAST).
    """
    # Skew-safe formulation (window partitions are not AQE-divisible;
    # a text duplicated 10⁹× — think empty or error pages — would pin
    # one task): the survivor key per hash is min(struct(−quality,
    # id)) — highest quality first, then lowest id — and it
    # partial-aggregates map-side together with the copy count; the
    # rows then join the bounded winners back on the 16-byte key (AQE
    # skew-split).  ``quality_col`` must be numeric (it is negated for
    # the lexicographic min).
    #
    # NULL handling (both matter — NULLs would otherwise change the
    # answer silently):
    #   * md5(NULL) is NULL and NULL keys never equi-join, so NULL-text
    #     rows would vanish at the join back — coalesce the key to a
    #     sentinel so they form one group (one survivor), matching the
    #     windowed PARTITION BY md5(text) semantics every SQL engine
    #     gives NULL partitions.
    #   * min(struct(...)) sorts a NULL first field FIRST, so a
    #     NULL-quality copy would beat every real-quality copy —
    #     coalesce quality to −inf before negating (−(−inf) = +inf
    #     sorts LAST), i.e. quality DESC NULLS LAST.
    hashed = df.withColumn(
        "__h", F.coalesce(F.md5(F.col(text_col)), F.lit("NULLTEXT"))
    )
    neg_quality = -F.coalesce(
        F.col(quality_col).cast("double"), F.lit(float("-inf"))
    )
    winners = hashed.groupBy("__h").agg(
        F.min(
            F.struct(
                neg_quality.alias("__nq"),
                F.col(id_col).alias("__id"),
            )
        ).alias("__best"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return (
        hashed.join(winners, "__h")
        .filter(
            F.struct(
                neg_quality.alias("__nq"),
                F.col(id_col).alias("__id"),
            )
            == F.col("__best")
        )
        .drop("__h", "__best")
    )


def boilerplate_line_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_doc_freq: int = 2,
    line_sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet / RefinedWeb
    line-dedup stage): a trimmed line that occurs in MORE than
    ``max_doc_freq`` distinct documents is boilerplate (cookie banners,
    nav menus, license footers) and EVERY occurrence is removed —
    unlike :func:`paragraph_exact_dedup`, which keeps the first.
    Documents reassemble in original line order; lines shorter than
    ``min_chars`` after trimming carry no signal and always survive.

    Returns ``(id_col, text_col (filtered), n_lines, n_removed)``.

    Scale shape — SKEW-SAFE by construction: the per-line distinct-
    document frequency is a ``count_distinct`` hash AGGREGATION on
    md5(line), which plans the standard two-phase expand (partial
    aggregation map-side), so the operator's own target case — a
    banner repeated in 10⁹ documents, the hottest key imaginable —
    collapses per input partition before the shuffle.  A window
    formulation over the same key would pin all 10⁹ occurrences on one
    unsplittable window task (window partitions are not
    AQE-divisible).  The occurrences then join the bounded frequency
    table back on the 16-byte key (AQE skew-join splits the hot keys)
    and one groupBy on the doc id reassembles.  O(lines), never
    O(pairs).
    """
    # NULL text coalesces to '' so the document survives as an
    # empty-string row instead of vanishing (split(NULL) yields NULL
    # and posexplode produces no rows) — same contract as
    # paragraph_exact_dedup and duplicated_ngram_profile.
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(
                F.coalesce(F.col(text_col), F.lit("")),
                "\\Q" + line_sep + "\\E",
            )
        ).alias("__pos", "__line"),
    ).withColumn("__trimmed", F.trim("__line"))
    eligible = F.length("__trimmed") >= min_chars
    # Ineligible (blank/tiny) lines are exempt from the frequency test
    # entirely — they never enter the aggregation, so the md5("")
    # mega-group of any web corpus is excluded structurally.
    freq = (
        lines.filter(eligible)
        .groupBy(F.md5("__trimmed").alias("__key"))
        .agg(F.count_distinct(F.col(id_col)).alias("__doc_freq"))
    )
    # Ineligible rows still need a join key that is neither NULL (all
    # NULL keys hash to ONE join partition — the blank-line mega-group
    # would hot-spot the join) nor shared (same problem): a
    # per-occurrence salted key spreads them uniformly and provably
    # misses the frequency table.
    flagged = (
        lines.withColumn(
            "__key",
            F.when(eligible, F.md5("__trimmed")).otherwise(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col(id_col).cast("string"),
                        F.col("__pos").cast("string"),
                    )
                )
            ),
        )
        .join(freq, "__key", "left")
        .withColumn(
            "__drop",
            eligible & (F.col("__doc_freq") > max_doc_freq),
        )
    )
    kept = ~F.col("__drop")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept,
                                F.struct(F.col("__pos"), F.col("__line")),
                            )
                        )
                    ),
                    lambda s: s["__line"],
                ),
                line_sep,
            ).alias(text_col),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias(
                "n_removed"
            ),
        )
        .select(id_col, text_col, "n_lines", "n_removed")
    )


def duplicated_ngram_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the Gopher/RefinedWeb
    repetition-across-the-corpus signal: for each document, the share
    of its DISTINCT n-token shingles that also occur in at least one
    OTHER document.  Filtering on this catches templated spam and
    near-mirror content that whole-document hashing misses, without
    generating candidate pairs at all.

    Returns ``(id_col, n_shingles, n_dup, dup_frac)``; documents with
    no shingles (NULL/empty text) report 0/0/0.0.

    Scale shape: shingles are DISTINCT per document (so the global
    occurrence count per shingle IS its distinct-document frequency —
    a plain count(*) window, no dense_rank needed), keys are md5s, and
    the whole operator is one explode + ONE window shuffle + one
    groupBy.  Cost is O(total shingles), never O(pairs).
    """

    # Project the exploded shingles down to (id, 16-byte hash, realness)
    # IMMEDIATELY and persist ONCE: both consumers (the frequency agg
    # and the per-occurrence probe) reuse this frame — without the
    # barrier the O(tokens·n) shingling would run once per branch, and
    # hashing early means every downstream shuffle moves 16-byte keys,
    # never shingle strings.  NULL shingles (empty docs kept alive by
    # explode_outer) take a per-document salted key so they neither
    # funnel one partition nor match the frequency table.
    ex = df.select(
        F.col(id_col),
        F.explode_outer(shingles(F.col(text_col), n)).alias("__sh"),
    ).select(
        F.col(id_col),
        F.col("__sh").isNotNull().alias("__real"),
        F.coalesce(F.md5("__sh"), F.md5(F.col(id_col).cast("string"))).alias(
            "__h"
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Skew-safe corpus frequency: count per hash partial-aggregates
    # map-side (a count WINDOW over the same key would pin a
    # mega-duplicated shingle on one unsplittable task); the
    # occurrences then join the counts back (AQE skew-split).
    freq_tbl = (
        ex.filter(F.col("__real"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__freq"))
    )
    per = ex.join(freq_tbl, "__h", "left").withColumn(
        "__dup", F.col("__real") & (F.col("__freq") > 1)
    )
    n_sh = F.sum(F.when(F.col("__real"), 1).otherwise(0)).cast("long")
    n_dup = F.sum(F.when(F.col("__dup"), 1).otherwise(0)).cast("long")
    result = (
        per.groupBy(id_col)
        .agg(n_sh.alias("n_shingles"), n_dup.alias("n_dup"))
        .select(
            id_col,
            "n_shingles",
            "n_dup",
            F.when(F.col("n_shingles") > 0,
                   F.col("n_dup").cast("double")
                   / F.col("n_shingles").cast("double"))
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )
    # per-doc bounded output: materialize eagerly, release the
    # shingle-hash cache (the prefix-filter discipline)
    try:
        result = result.localCheckpoint(eager=True)
    finally:
        ex.unpersist()
    return result


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental ingestion dedup: admit only batch documents whose
    text has never been seen — neither earlier in the batch itself nor
    anywhere in the existing corpus.  This is the daily-crawl shape
    (the production counterpart of the one-shot :func:`exact_dedup`):
    the corpus is the accumulated store, the batch is today's feed, and
    re-crawled or mirrored pages must not re-enter.

    Within-batch copies keep the lowest ``id_col``; survivors carry
    ``batch_dup_count`` (copies seen inside the batch, re-crawls of
    corpus documents included — the count is evidence for crawl-rate
    tuning even when the text itself is rejected).

    Scale shape: the corpus side is pruned to a 16-byte md5 INDEX before
    anything moves — ``select md5(text)`` pushes column pruning into the
    parquet scan, the distinct partial-aggregates map-side, and the
    anti-join shuffles hashes, never the 100-TB of document bodies.  In
    production the distinct-hash index is persisted once (bucketed by
    hash), so each daily batch anti-joins against it with no corpus
    rescan and no shuffle on the index side; the batch side is ONE
    window shuffle on md5(text), the same single-exchange discipline as
    :func:`exact_dedup_keep_best` (rank and copy count share the
    partitioning).
    """
    survivors = _batch_keep_first(batch, text_col, id_col)
    index = corpus.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    return survivors.join(index, "__h", "left_anti").drop("__h")


def _batch_keep_first(batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Within-batch keep-first + copy count, skew-safe: min(id) and
    count per md5(text) partial-aggregate map-side (a window rank
    would pin a mega-duplicated batch text on one unsplittable task),
    then the batch joins the bounded winners back on the 16-byte key
    (AQE skew-split).  NULL-text rows form one group under a sentinel
    key (the window formulation grouped them the same way; the
    sentinel is not hex, so it can never equal a real md5 and the
    downstream anti-join still always admits the survivor).  Returns
    the surviving rows with ``__h`` and ``batch_dup_count`` attached."""
    hashed = batch.withColumn(
        "__h", F.coalesce(F.md5(F.col(text_col)), F.lit("NULLTEXT"))
    )
    winners = hashed.groupBy("__h").agg(
        F.min(F.col(id_col)).alias("__min_id"),
        F.count(F.lit(1)).alias("batch_dup_count"),
    )
    return (
        hashed.join(winners, "__h")
        .filter(F.col(id_col) == F.col("__min_id"))
        .drop("__min_id")
    )


def write_dedup_index(
    corpus: DataFrame,
    text_col: str,
    index_table: str,
    n_buckets: int = 32,
) -> None:
    """Materialize the production dedup index promised by
    :func:`incremental_exact_dedup`: the corpus's distinct
    ``md5(text)`` set persisted as a BUCKETED, bucket-sorted table so
    every subsequent daily batch anti-joins against it with ZERO
    shuffle (and zero sort) on the index side — the index is read
    bucket-for-bucket in place, only the (small) batch moves.

    The index holds 16-byte hashes, never document bodies: at 100 TB
    of corpus it is ~32 bytes/doc of storage and the nightly ingest
    never rescans the corpus.  NULL-text documents hash to NULL and
    are excluded — a NULL key can never equi-match an anti-join probe,
    so storing it would be dead weight.

    Buckets are metastore metadata, not directory layout, so the index
    is addressed as a saveAsTable name; it replaces any live index
    under the name (:func:`gdp_etl_spark.io.write_bucketed_table`).
    """
    index = (
        corpus.select(F.md5(F.col(text_col)).alias("text_md5"))
        .filter(F.col("text_md5").isNotNull())
        .distinct()
    )
    write_bucketed_table(
        index, index_table, ["text_md5"], num_buckets=n_buckets,
        sort_by=["text_md5"],
    )


def dedup_against_index(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    index_table: str,
) -> DataFrame:
    """Admit the batch documents whose text is new — not seen earlier
    in the batch (keep lowest ``id_col``, count copies in
    ``batch_dup_count``) and not present in the persisted index
    written by :func:`write_dedup_index`.  Same admission semantics as
    :func:`incremental_exact_dedup`; the difference is the plan: the
    corpus side is the bucketed hash index, so the anti-join plans a
    SortMergeJoin whose index side has NO Exchange and NO Sort
    (``tests/test_plans_quality.py`` pins this) — the only shuffle is
    the batch's own md5 window.
    """
    survivors = _batch_keep_first(batch, text_col, id_col)
    # Drop any cached file listing for the index before probing: a
    # concurrent append (e.g. the previous micro-batch of a streaming
    # ingest, which runs in a CLONED session whose cache invalidation
    # does not reach this session) would otherwise be invisible and
    # just-ingested texts would silently re-admit (observed live).
    # Cost is one re-list of the index directory per probe — nightly
    # noise next to the anti-join itself.
    spark.catalog.refreshTable(index_table)
    index = spark.table(index_table)
    return (
        survivors.join(
            index, survivors["__h"] == index["text_md5"], "left_anti"
        )
        .drop("__h")
    )


#: TBLPROPERTIES prefix of the MinHash band table's parameter stamp
_MH = "minhash."


def _minhash_stamp(num_perm: int, bands: int, shingle_k: int) -> dict:
    """The banding parameters as stamp properties: a probe or append
    with different parameters generates a different candidate space —
    recall silently collapses with no error anywhere.  The stamp makes
    the mismatch loud."""
    return {
        f"{_MH}num_perm": str(int(num_perm)),
        f"{_MH}bands": str(int(bands)),
        f"{_MH}shingle_k": str(int(shingle_k)),
    }


def _check_minhash_params(
    spark, index_table: str, num_perm: int, bands: int, shingle_k: int
) -> None:
    """Raise on a parameter mismatch with the stamped index; tables
    written before the stamp existed (no properties) pass unchecked —
    absence is legacy, disagreement is a bug."""
    props = read_stamp(spark, index_table, _MH)
    want = _minhash_stamp(num_perm, bands, shingle_k)
    bad = {
        k: (props[k], v) for k, v in want.items()
        if k in props and props[k] != v
    }
    if bad:
        detail = ", ".join(
            f"{k}: index={a} caller={b}" for k, (a, b) in sorted(bad.items())
        )
        raise ValueError(
            f"MinHash parameter mismatch against index {index_table!r} "
            f"({detail}) — candidates would come from a DIFFERENT "
            f"banding space and recall would silently collapse; use the "
            f"parameters the index was written with, or rebuild it"
        )


def append_to_dedup_index(
    admitted: DataFrame, text_col: str, index_table: str
) -> None:
    """Fold a batch's admitted documents into the persisted index —
    the write half of the nightly cycle.  Appends the batch's distinct
    hashes with the table's bucket spec preserved (the store's
    :func:`gdp_etl_spark.io.append_table`), so the index stays
    shuffle-free to probe.

    Hashes already present in the index are NOT re-deduplicated
    across files — an anti-join only tests existence, so duplicate
    index entries are semantically harmless; they cost bytes and file
    handles, and a periodic :func:`compact_dedup_index` reclaims both.
    In the intended cycle the input is the OUTPUT of
    :func:`dedup_against_index`, which is already corpus-disjoint and
    batch-distinct, so no duplicates arise at all.
    """
    append_table(
        admitted.select(F.md5(F.col(text_col)).alias("text_md5"))
        .filter(F.col("text_md5").isNotNull())
        .distinct(),
        index_table,
    )


def compact_dedup_index(spark, index_table: str) -> tuple[int, int]:
    """Periodic maintenance for the nightly dedup index: rewrite the
    append-accreted table into a distinct, freshly-bucketed copy and
    swap it in under the same name.  Every :func:`append_to_dedup_index`
    adds ``n_buckets`` files, so a year of daily batches leaves the
    probe paying ~365× the file-open cost (and duplicate hashes are
    possible if a caller ever appends non-admitted rows); compaction
    restores one file per bucket and a strictly-distinct hash set.

    The rewrite itself leans on the existing bucketing: the source scan
    is bucket-in-place, so the ``distinct`` plans WITHOUT a data
    exchange (grouping key == bucket key) and the only shuffle is the
    writer's own redistribution into the new table's buckets.  The swap
    is the store's rename swap (:func:`gdp_etl_spark.io.compact_table`):
    the fresh copy builds under ``__compacting``, a live row count that
    changed meanwhile (a racing append) raises instead of losing rows,
    a failed swap-in rename restores the original, and a hard crash
    between the renames is healed by the NEXT run.  A probe can land
    between the renames, so run compaction in the nightly cycle's
    quiet window, not concurrently with ingest.

    Returns ``(files_before, files_after)`` for the ops ledger.
    """
    return compact_table(spark, index_table, DataFrame.distinct)


def compact_minhash_index(
    spark, index_table: str
) -> dict[str, tuple[int, int]]:
    """Compact BOTH persisted MinHash tables — the near-dup sibling of
    :func:`compact_dedup_index`, needed for the same reason once
    :func:`append_to_minhash_index` runs per streaming micro-batch or
    nightly batch: every append adds up to ``n_buckets`` files to the
    band table AND the sets table, and crash redeliveries leave
    harmless-but-bytes-costing duplicate rows in each.  Distinct full
    rows is the correct dedup for both (a redelivered doc's band
    memberships and shingle-hash set are bit-identical re-derivations).

    Same swap protocol and quiet-window caveat as
    :func:`compact_dedup_index`.  Returns
    ``{table: (files_before, files_after), table_sets: (...)}``.
    """
    return {
        t: compact_table(spark, t, DataFrame.distinct, prefix=_MH)
        for t in (index_table, f"{index_table}_sets")
    }


def token_window_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 50,
) -> DataFrame:
    """Exact-substring dedup at fixed TOKEN-WINDOW granularity — the
    Lee et al. 2022 50-token exact-substring criterion approximated
    without suffix arrays: documents split into consecutive
    ``window_tokens``-token windows (whitespace tokenization), and a
    window OCCURRENCE survives iff it is the globally first occurrence
    of its text, ordered by (``id_col``, position).  Catches long
    passages copied VERBATIM across documents (licence blocks, quoted
    articles, mirrored sections) that paragraph boundaries miss —
    complementary to :func:`paragraph_exact_dedup`, which needs the
    copy to be boundary-aligned.  Alignment caveat (the approximation):
    a duplicated passage is only caught where both copies start at the
    same offset modulo the window — window-granular, not
    character-granular, recall; precision is exact.

    Documents rebuild from surviving windows in order, single-space
    joined (token-granularity rebuild: original whitespace inside
    windows is not preserved).  A fully-removed or NULL/empty document
    yields an empty string.  Returns ``(id_col, text_col,
    n_windows, n_removed)``.

    Scale shape: identical to :func:`paragraph_exact_dedup` — one
    map-side fan-out (sequence+slice, no self-join), then the SKEW-SAFE
    first-occurrence formulation: ``min(struct(id, pos))`` per
    md5(window) partial-aggregates map-side (a mega-duplicated window
    collapses to one row per input partition before the shuffle; a
    rank window over the same key would pin every occurrence on one
    unsplittable task), occurrences join the bounded firsts back on
    the 16-byte key (AQE skew-join splits the hot key), one groupBy on
    the doc id reassembles.  O(tokens), not O(pairs).
    """
    w = int(window_tokens)
    if w < 1:
        raise ValueError(f"window_tokens must be >= 1, got {window_tokens}")
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: x != "",
    )
    n_win = F.greatest(F.ceil(F.size("__toks") / F.lit(w)), F.lit(1))
    wins = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), (n_win - 1).cast("int")),
                    lambda i: F.array_join(
                        F.slice("__toks", i * w + 1, w), " "
                    ),
                )
            ).alias("__pos", "__win"),
        )
    )
    return _keep_first_rebuild(wins, id_col, text_col, "n_windows")


def _keep_first_rebuild(
    wins: DataFrame, id_col: str, text_col: str, count_alias: str
) -> DataFrame:
    """Shared tail of the token-granular dedup family: given
    (id, __pos, __win) occurrence rows, keep each window text's globally
    FIRST occurrence (ordered by (id, pos)), rebuild documents from the
    survivors in order, and report per-doc occurrence/removal counts.
    Skew-safe: min(struct(id, pos)) per md5(window) partial-aggregates
    map-side and the join back is AQE skew-split; empty windows
    (tokenless docs) take per-occurrence salted keys so md5('') never
    funnels a join partition."""
    eligible = F.length("__win") > 0
    firsts = (
        wins.filter(eligible)
        .groupBy(F.md5("__win").alias("__h"))
        .agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first")
        )
    )
    ranked = wins.withColumn(
        "__h",
        F.when(eligible, F.md5("__win")).otherwise(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col(id_col).cast("string"),
                    F.col("__pos").cast("string"),
                )
            )
        ),
    ).join(firsts, "__h", "left")
    kept = ~eligible | (
        F.struct(F.col(id_col), F.col("__pos")) == F.col("__first")
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept,
                                F.struct(F.col("__pos"), F.col("__win")),
                            )
                        )
                    ),
                    lambda s: s["__win"],
                ),
                " ",
            ).alias(text_col),
            F.count(F.lit(1)).cast("long").alias(count_alias),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias(
                "n_removed"
            ),
        )
        .select(id_col, text_col, count_alias, "n_removed")
    )


def cdc_window_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    boundary_bits: int = 4,
) -> DataFrame:
    """Exact-substring dedup at CONTENT-DEFINED chunk granularity —
    the alignment-robust complement to :func:`token_window_dedup`,
    whose fixed windows only catch a duplicated passage when both
    copies start at the same offset modulo the window.  Here a chunk
    boundary falls AFTER any token whose hash has its low
    ``boundary_bits`` bits zero (expected chunk length =
    2^boundary_bits tokens), so chunk boundaries are a function of the
    CONTENT alone: a passage duplicated at any offset produces
    identical interior chunks in both copies, and every interior chunk
    dedups regardless of shift — the classic CDC property (LBFS /
    rsync lineage) applied to token streams.  Edge chunks (where the
    duplicated region meets surrounding text) still differ; recall is
    chunk-granular, precision exact.

    The per-token hash is the md5-hex prefix as a bigint — portable to
    the SQL oracle, unlike xxhash.  Standard CDC caveat: chunk length
    is geometric (expected 2^bits), unbounded in the extreme; a
    pathological no-boundary document yields one doc-sized chunk,
    which is exactly :func:`paragraph_exact_dedup`'s granularity, not
    a failure.

    Returns ``(id_col, text_col, n_chunks, n_removed)``; documents
    rebuild from surviving chunks in order, single-space joined; a
    fully-removed or NULL/empty document yields ``''``.

    Scale shape: chunking is PURE map-side higher-order-function work
    (flags → boundary indices → slices — no per-doc window, no
    explode-then-regroup); then the family's shared skew-safe
    first-occurrence aggregation + AQE-splittable join back
    (:func:`_keep_first_rebuild`).  O(tokens), not O(pairs).
    """
    if not 0 < boundary_bits < 32:
        raise ValueError(
            f"boundary_bits must be in (0, 32), got {boundary_bits}"
        )
    mask = 1 << boundary_bits
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: x != "",
    )
    tk = F.col("__toks")

    def tok_hash(t):
        return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")

    # 0-based indices whose token CLOSES a chunk; sequence counts DOWN
    # for empty arrays, hence the explicit guard
    idx0 = F.when(
        F.size(tk) > 0, F.sequence(F.lit(0), F.size(tk) - 1)
    ).otherwise(F.array().cast("array<int>"))
    closes = F.filter(
        idx0, lambda i: tok_hash(F.element_at(tk, i + 1)) % mask == 0
    )
    starts = F.concat(
        F.array(F.lit(0)), F.transform(closes, lambda c: c + 1)
    )
    ends = F.concat(closes, F.array(F.size(tk) - 1))
    # zip the bound arrays FIRST: an element_at(starts, k) per chunk
    # would re-inline the whole boundary expression (Project collapse
    # defeats reuse) and recompute every token hash once per access —
    # measured quadratic, 21 s for 5k docs.  arrays_zip evaluates each
    # bound array once; the transform then reads struct fields.
    bounds = F.arrays_zip(starts.alias("s"), ends.alias("e"))
    chunk_texts = F.filter(
        F.transform(
            bounds,
            lambda b: F.array_join(
                F.slice(
                    tk,
                    b["s"] + 1,
                    F.greatest(b["e"] - b["s"] + 1, F.lit(0)),
                ),
                " ",
            ),
        ),
        lambda x: x != "",
    )
    # a tokenless doc must still emit ONE (empty) occurrence so the
    # document survives the rebuild as '' (same contract as
    # token_window_dedup's n_win >= 1 guard)
    chunk_texts = F.when(
        F.size(chunk_texts) > 0, chunk_texts
    ).otherwise(F.array(F.lit("")))
    wins = df.select(F.col(id_col), toks.alias("__toks")).select(
        F.col(id_col),
        F.posexplode(chunk_texts).alias("__pos", "__win"),
    )
    return _keep_first_rebuild(wins, id_col, text_col, "n_chunks")


def write_minhash_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_table: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    n_buckets: int = 32,
) -> None:
    """Materialize the NEAR-dup sibling of :func:`write_dedup_index`:
    the corpus's MinHash-LSH band memberships persisted as a bucketed
    table, plus its per-document shingle-hash sets as a second
    bucketed table — so daily batches can be screened for near-
    duplicates against a 100-TB corpus without ever rescanning or
    re-shuffling it.

    Two tables, each bucketed on its probe key:

    * ``<index_table>`` — ``(doc_id, band, bucket)``, bucketed by
      (band, bucket): the candidate-generation side.  A batch's banded
      signatures equi-join it bucket-in-place;
    * ``<index_table>_sets`` — ``(doc_id, sh_hashes array<bigint>)``,
      bucketed by the id: the verification side.  Candidates join it
      by corpus id, again with no index-side shuffle.  Stored as
      8-byte xxhash64 shingle hashes, not strings — set intersections
      (and therefore Jaccard) are preserved, at a fraction of the
      bytes.

    Same banding math as :func:`minhash_lsh_pairs` (xxhash64-seeded
    permutations, ``num_perm/bands`` rows per band), so the two paths
    generate identical candidates for identical parameters.

    Any live index under the name is dropped first; both tables then
    go through the store's create (:func:`gdp_etl_spark.io.create_table`),
    the band table last and stamped with the banding parameters before
    its rename — a crash never leaves a live band table without its
    stamp (which the probe would read as legacy and leave unchecked).
    """
    from ..functions.text import shingles as _shingles

    spark = corpus.sparkSession
    for t in (index_table, f"{index_table}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    sh = corpus.select(
        F.col(id_col).alias("doc_id"),
        _shingles(F.col(text_col), shingle_k).alias("__sh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sets = sh.select(
            "doc_id",
            F.transform("__sh", lambda s: F.xxhash64(s)).alias("sh_hashes"),
        )
        create_table(
            sets, f"{index_table}_sets", ["doc_id"], n_buckets, ["doc_id"]
        )
        sig = sh.select(
            "doc_id",
            _signature_from_shingles(F.col("__sh"), num_perm).alias("__sig"),
        )
        create_table(
            _banded("doc_id", sig, num_perm, bands), index_table,
            ["band", "bucket"], n_buckets, ["band", "bucket"],
            stamp=_minhash_stamp(num_perm, bands, shingle_k),
        )
    finally:
        sh.unpersist()


def _banded(id_out: str, sig_frame: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bucket) rows from an (id, __sig) frame — the ONE
    banding definition shared by the index write, the probe, and the
    append, so all three generate identical buckets for identical
    parameters (a drifted copy would silently zero the candidate
    recall)."""
    rows_per_band = num_perm // bands
    return sig_frame.select(
        id_out,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("__sig")[b * rows_per_band + r]
                                .cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(
        id_out,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def append_to_minhash_index(
    admitted: DataFrame,
    text_col: str,
    id_col: str,
    index_table: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> None:
    """Fold a batch's admitted documents into BOTH persisted MinHash
    tables — the write half of a streaming/nightly NEAR-dup admission
    cycle (the sibling of :func:`append_to_dedup_index`).  Band
    memberships append to ``<index_table>`` and shingle-hash sets to
    ``<index_table>_sets``, each with its table's bucket spec read
    from the catalog so callers can't desynchronize it (the store's
    :func:`gdp_etl_spark.io.append_table`, which also refreshes the
    catalog's cached file listing).

    Parameters must match the ones the index was written with.
    Re-appending the same documents (crash redelivery) duplicates
    rows in both tables; that is harmless for ADMISSION — candidate
    generation distincts and verification tests pair existence — and
    a duplicated verified pair in the probe's output repeats, which
    callers using the pairs as a set already tolerate.  A periodic
    :func:`compact_minhash_index` reclaims the bytes and the file
    accretion in both tables.
    """
    spark = admitted.sparkSession
    _check_minhash_params(spark, index_table, num_perm, bands, shingle_k)

    from ..functions.text import shingles as _shingles

    sh = admitted.select(
        F.col(id_col).alias("doc_id"),
        _shingles(F.col(text_col), shingle_k).alias("__sh"),
    ).filter(F.size("__sh") > 0).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        append_table(
            sh.select(
                "doc_id",
                F.transform("__sh", lambda s: F.xxhash64(s)).alias(
                    "sh_hashes"
                ),
            ),
            f"{index_table}_sets",
        )
        sig = sh.select(
            "doc_id",
            _signature_from_shingles(F.col("__sh"), num_perm).alias("__sig"),
        )
        append_table(_banded("doc_id", sig, num_perm, bands), index_table)
    finally:
        sh.unpersist()


def near_dup_against_index(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    index_table: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    materialize: bool = True,
) -> DataFrame:
    """Screen a batch for near-duplicates of the INDEXED corpus: banded
    MinHash candidates against the persisted band table (no shuffle on
    the index side — bucket files stream into the join), then exact
    Jaccard verification against the persisted shingle-hash sets
    (again index-side shuffle-free: candidates redistribute into the
    sets table's id bucketing).  The threshold compares in integer
    millis, the repo's standard no-float-boundary discipline.

    Returns ``(batch_id, corpus_id, jaccard)`` — one row per verified
    near-dup pair.  Parameters must match the ones the index was
    written with (they define the candidate space); recall follows the
    usual banding curve, precision is exact (every emitted pair is
    verified).

    Scale shape: the corpus never moves — both index tables are read
    bucket-in-place; the only shuffles are the batch's own banding
    fan-out and the candidate redistribution, both sized by the BATCH
    and its true near-dup fan-in, never the corpus.
    """
    from ..functions.text import shingles as _shingles

    t_mill = int(-(-jaccard_threshold * 1000 // 1))
    spark.catalog.refreshTable(index_table)
    spark.catalog.refreshTable(f"{index_table}_sets")
    _check_minhash_params(spark, index_table, num_perm, bands, shingle_k)

    bsh = batch.select(
        F.col(id_col).alias("batch_id"),
        _shingles(F.col(text_col), shingle_k).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    if materialize:
        # the shingle frame feeds the banding path AND the verify join;
        # the persist pins nothing past this call — the bounded result
        # materializes below and the cache releases before returning
        bsh = bsh.persist(StorageLevel.MEMORY_AND_DISK)
    bsets = bsh.select(
        "batch_id",
        F.transform("__sh", lambda s: F.xxhash64(s)).alias("__bh"),
    )
    bsig = bsh.select(
        "batch_id",
        _signature_from_shingles(F.col("__sh"), num_perm).alias("__sig"),
    )
    bbands = _banded("batch_id", bsig, num_perm, bands)
    idx = spark.table(index_table)
    cands = (
        bbands.join(idx, ["band", "bucket"])
        .select("batch_id", F.col("doc_id").alias("corpus_id"))
        .distinct()
    )
    sets = spark.table(f"{index_table}_sets").select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sh_hashes").alias("__ch"),
    )
    inter = F.size(F.array_intersect("__bh", "__ch")).cast("long")
    union = F.size("__bh").cast("long") + F.size("__ch").cast("long") - inter
    result = (
        cands.join(sets, "corpus_id")
        .join(bsets, "batch_id")
        .withColumn("__i", inter)
        .withColumn("__u", union)
        .filter(F.col("__i") * 1000 >= F.lit(t_mill) * F.col("__u"))
        .select(
            "batch_id",
            "corpus_id",
            (F.col("__i").cast("double") / F.col("__u").cast("double")).alias(
                "jaccard"
            ),
        )
    )
    # output-sized eager materialization so the batch shingle cache
    # releases before returning (same discipline as prefix filtering);
    # materialize=False returns the lazy plan for inspection/tests and
    # pins NO cache at all (executing it re-shingles once per consumer
    # — fine for plan reads, use the default for real probes)
    if not materialize:
        return result
    try:
        result = result.localCheckpoint(eager=True)
    finally:
        bsh.unpersist()
    return result


def within_batch_screen(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int | None = None,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-dup admission screen WITHIN one document set: MinHash-LSH
    pairs among ``docs`` (:func:`minhash_lsh_pairs`), connected-
    components clustered, and only each cluster's canonical
    (minimum-``id_col``) member admitted.  Schema is preserved —
    the output is a subset of ``docs``'s rows.

    This is the third admission stage of
    :func:`~gdp_etl_spark.streaming.ingest.run_near_dup_ingest`
    (``within_batch=True``), factored out as a pure batch operator:
    two mutual near-dups arriving in the SAME micro-batch are
    invisible to the corpus-index screens (neither is indexed yet), so
    without this stage both admit.  The admit set is deterministic —
    canonical = minimum id of the near-dup component — which is what
    makes the stage oracle-replayable (exact all-pairs Jaccard +
    recursive reachability in SQL).

    Scale shape: inherits :func:`minhash_lsh_pairs`'s banded candidate
    join (never all-pairs) and
    :func:`~gdp_etl_spark.operators.cluster.connected_components`'s
    driver fast path — near-dup pair graphs are tiny relative to the
    batch, so the cluster step costs one bounded collect; the final
    admit is a filter on the clustered frame, no extra shuffle.

    Banding default: ``bands=None`` means ``bands = num_perm`` —
    single-row bands, the only shape whose AT-THRESHOLD candidate-miss
    bound ``(1 − J)^bands`` is sound for an admission screen (16×1 at
    J=0.8 misses ≤ 6.6e-12 per true pair).  The previous 16×4 default
    (4 rows/band) misses ``(1 − J^4)^4 ≈ 12%`` of true pairs AT the
    default threshold — fine for a pair-mining pass where the verify
    join restores precision, silently leaky for admission (verdict-
    advice r9).  Callers wanting fewer candidates on corpora whose true
    pairs sit well above the threshold may still pass multi-row bands
    explicitly; the bound is theirs to justify.
    """
    from .cluster import dedup_clusters

    if bands is None:
        bands = num_perm
    pairs = minhash_lsh_pairs(
        docs, text_col, id_col,
        num_perm=num_perm, bands=bands, shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
    )
    return (
        dedup_clusters(docs, pairs, id_col)
        .filter(F.col("is_canonical"))
        .drop("cluster_id", "is_canonical")
    )


def _bloom_positions(key, k: int, num_bits: int, seed: str) -> list:
    """The k bit positions of ``key`` — md5 folds of (key : j : seed),
    15 hex chars → non-negative bigint → mod num_bits.  Pure portable
    expressions (the repo's standard hash recipe), so any engine
    derives the identical filter."""
    return [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", key, F.lit(str(j)), F.lit(seed))),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint"),
            F.lit(int(num_bits)),
        )
        for j in range(k)
    ]


def bloom_words(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 16,
    k: int = 4,
    seed: str = "bloom",
) -> list[int]:
    """Build a Bloom filter over ``keys[key_col]`` as a driver-side
    list of 64-bit words (63 usable bits each — bit 63 stays clear so
    the ``1 << b`` never overflows in engines that range-check shifts,
    e.g. DuckDB).  The build is one explode (k rows/key) + ``bit_or``
    word aggregate; the collect is ``ceil(num_bits/63)`` rows — bounded
    by the PARAMETER, never by data (the kmeans-stats rule).

    Sizing: false-positive rate ≈ (1 − e^(−k·n/m))^k for n keys and
    m = num_bits; the default 2^16 bits / k=4 holds ~4,500 keys at 1%.
    The literal-words form is for BOUNDED key sets — benchmark
    contamination hashes, URL blocklists, a recent-batch cache — where
    it deletes the membership JOIN entirely (see :func:`bloom_hit`).
    A corpus-scale index (billions of keys → tens of GB of bits)
    cannot ship as a literal; at that scale keep the bucketed
    anti-join (:func:`dedup_against_index`) — the filter's job there
    is done by the bucket pruning.
    """
    if num_bits < 63:
        raise ValueError(f"num_bits must be >= 63, got {num_bits}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("NULLKEY"))
    pos = F.explode(
        F.array(*_bloom_positions(key, k, num_bits, seed))
    ).alias("__pos")
    rows = (
        keys.select(pos)
        .select(
            F.floor(F.col("__pos") / F.lit(63)).cast("int").alias("__w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("__pos"), F.lit(63)).cast("int"),
            ).alias("__m"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__word"))
        .collect()
    )
    n_words = (int(num_bits) + 62) // 63
    words = [0] * n_words
    for r in rows:
        words[r["__w"]] = r["__word"]
    return words


def bloom_hit(
    key,
    words: list[int],
    num_bits: int = 1 << 16,
    k: int = 4,
    seed: str = "bloom",
):
    """Map-side membership test against a literal Bloom filter:
    TRUE when all k bits are set (maybe-member — confirm with an exact
    join), FALSE is a GUARANTEED non-member.  One ``forall`` over the
    k positions with the words array bound once in the expression tree
    (not once per position — the expression-reuse rule), so the probe
    is whole-stage codegen with zero joins and zero shuffle.

    ``words`` must be the exact ``ceil(num_bits/63)``-word array that
    :func:`bloom_words` produced for the SAME ``num_bits`` — a larger
    ``num_bits`` would index past the literal array (ANSI runtime
    error; with ANSI off a NULL ``forall`` silently reads as not-hit,
    breaking the no-false-negative invariant), so the mismatch is
    rejected eagerly here."""
    expected = (int(num_bits) + 62) // 63
    if len(words) != expected:
        raise ValueError(
            f"words has {len(words)} entries but num_bits={num_bits} "
            f"requires exactly {expected}; pass the same num_bits used "
            "in bloom_words"
        )
    warr = F.array(*[F.lit(int(w)).cast("long") for w in words])
    pos = F.array(*_bloom_positions(key, k, num_bits, seed))
    return F.forall(
        pos,
        lambda p: (
            F.element_at(warr, (F.floor(p / F.lit(63)) + F.lit(1)).cast("int"))
            .bitwiseAND(
                # python-API shiftleft takes only an int literal for the
                # shift; call_function reaches the SQL form (col, col)
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    F.pmod(p, F.lit(63)).cast("int"),
                )
            )
            != F.lit(0)
        ),
    )


def bloom_screen_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_bits: int = 1 << 16,
    k: int = 4,
    seed: str = "bloom",
) -> DataFrame:
    """Exact-dedup screen with a Bloom prefilter: flag each batch doc
    with ``bloom_hit`` (maybe-seen) and ``is_dup`` (CONFIRMED exact
    text match in the corpus).  The final answer is EXACT — Bloom
    false positives are resolved by the confirming semi-join, false
    negatives are impossible by construction (``NOT bloom_hit ⇒ NOT
    is_dup``, pinned in tests) — so the approximation changes the
    COST, never the result, and the whole pipeline stays
    oracle-replayable (the filter derives from portable md5 folds).

    Scale shape: the corpus is read once to build the words
    (parameter-bounded collect); the batch probe is map-only; only the
    ``bloom_hit`` rows — ≈ |true dups| + fp·|batch| — reach the exact
    semi-join, so the join's batch side shrinks from |batch| to
    roughly the duplicate mass.  NULL text takes the sentinel key on
    BOTH sides (the NULL-key discipline: NULL md5 keys never equi-join
    and would silently pass every NULL doc).
    """
    kb = F.coalesce(F.md5(F.col(text_col)), F.lit("NULLTEXT"))
    ckeys = (
        corpus.select(
            F.coalesce(F.md5(F.col(text_col)), F.lit("NULLTEXT")).alias("__ck")
        ).distinct()
        # two consumers below (the bloom build and the confirming
        # semi-join) — barrier once or the distinct re-executes per
        # consumer (the repo's derived-frame persist rule); the frame
        # is one 32-char hash per distinct corpus text
        .localCheckpoint(eager=True)
    )
    words = bloom_words(ckeys, "__ck", num_bits=num_bits, k=k, seed=seed)
    flagged = batch.select(
        F.col(id_col),
        kb.alias("__k"),
        bloom_hit(kb, words, num_bits=num_bits, k=k, seed=seed).alias(
            "bloom_hit"
        ),
        # the probe plan is read TWICE below (hit branch + join-back),
        # and kb is referenced k+1 times in it (CollapseProject would
        # re-inline a protective projection) — one eager output-sized
        # barrier evaluates every md5 exactly once
    ).localCheckpoint(eager=True)
    dups = (
        flagged.filter(F.col("bloom_hit"))
        .join(ckeys, F.col("__k") == F.col("__ck"), "left_semi")
        .select(id_col)
        # distinct: a duplicated batch id would otherwise multiply rows
        # quadratically through the join-back (one flag row per batch
        # row is the contract; r10 self-review finding)
        .distinct()
        .withColumn("__d", F.lit(True))
    )
    return (
        flagged.join(dups, id_col, "left")
        .select(
            id_col,
            "bloom_hit",
            F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    num_cells: int = 8,
    n_iter: int = 2,
    scale: float = 1e6,
    offset: float = 1.0,
    seed: str = "semdedup",
) -> DataFrame:
    """Cluster-scoped SEMANTIC dedup — the SemDeDup recipe (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): k-means the embedding space, then look
    for near-duplicates ONLY within each cluster, so the candidate
    space is Σ|cell|² instead of the all-pairs n² that no 100-TB
    corpus survives.  Composes the repo's deterministic machinery:
    ``kmeans_fixed`` cells (hash-seeded integer Lloyd's — cluster
    membership replays engine-exactly) and ``cosine_exact`` scoring
    (fixed-point dots, one final double op — engine-stable threshold
    comparisons).

    Dedup rule (the keep-best tie-break discipline of this module,
    made explicit): a row is a DUPLICATE iff its cell contains an
    EARLIER row (smaller ``id_col``) with cosine similarity >=
    ``threshold``; ``dup_of`` is the smallest such id.  The rule is a
    per-row predicate — no iteration, no connected components — so
    it is fully SQL-replayable; unlike transitive clustering, a
    chain a~b~c with cos(a,c) < threshold keeps only ``a`` (b ducks
    under a, c under b): the paper's "keep one per ε-ball" behavior.
    Zero-norm vectors have NULL cosine and can neither be nor create
    duplicates; NULL embeddings are dropped up front (the
    kmeans_fixed rule).

    Returns one row per input row WITH a non-NULL embedding (rows
    whose embedding is NULL are dropped up front — the kmeans_fixed
    rule — not passed through): ``(id_col, cell int, dup_of, keep
    boolean)`` — filter ``keep`` for the deduplicated corpus, join
    ``dup_of`` for provenance; left-join back to the input if
    NULL-embedding rows must be carried.

    Scale shape: cell assignment is map-only (literal centroids);
    the candidate join is an EQUI-join on the cell id (plan-pinned:
    no cartesian, no broadcast nested loop), with the assigned frame
    localCheckpoint-ed once so the quantize+assign pipeline does not
    re-run per join side (the self-join persist-barrier rule).  A
    dominant cell concentrates pairs — at corpus scale pick
    ``num_cells ∝ n`` so expected cell size stays constant (the
    paper's regime), and AQE's skew-join split backstops stragglers.
    In-query training is the priced hash-exactness trade shared with
    ``kmeans_assign``/``pq_topk``; for the train-once shape, persist
    cells with ``ann_index.write_ivf_index`` and run
    :func:`semantic_dedup_from_index` over the stored postings instead.
    """
    from .kmeans import kmeans_fixed

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    base = df.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    cells = kmeans_fixed(
        base, id_col, vec_col, k=num_cells, n_iter=n_iter,
        scale=scale, offset=offset, seed=seed,
    ).select(id_col, F.col("cluster").cast("int").alias("cell"))
    return _semantic_dedup_cells(base, cells, id_col, vec_col, threshold)


def _semantic_dedup_cells(
    base: DataFrame, cells: DataFrame, id_col: str, vec_col: str,
    threshold: float, scope_col: str | None = None,
) -> DataFrame:
    """Shared SemDeDup tail: given ``base (id, vec)`` and a cell
    assignment ``cells (id, cell int)`` — trained in-query
    (:func:`semantic_dedup`) or read from a persisted IVF index
    (:func:`semantic_dedup_from_index`) — run the intra-cell
    earliest-id near-duplicate scan.  Candidate space is Σ|cell|²,
    evaluated as ONE Arrow-batched block per (cell, dim) group: each
    row crosses the Python boundary once (never per pair — the
    "decide with small rows, move big rows once" rule), and the pair
    sims are vectorized numpy over the block.  r15 rewrite: the former
    JVM shape (self equi-join on the cell id + per-pair zip_with/
    aggregate dot + min groupBy + verdict left join) paid ~5 µs of
    CodegenFallback HOF interpretation per PAIR and three extra
    shuffles; this path ships each row once and scores blocks at
    memory bandwidth.  Verdicts are bit-identical: the fixed-point
    recipe (per-element ``floor(x·y·1e12)`` in IEEE double, exact
    int64 accumulation, one final sqrt/divide) is the same arithmetic
    ``dot_fixed`` folds — pinned against the old join path in pytest
    and by the unchanged DuckDB oracle mirrors.

    ``scope_col``: optional boolean column in ``base`` restricting the
    VERDICT side (and the output) to the flagged rows — the increment
    shape (:func:`semantic_dedup_increment`): only flagged rows are
    judged, but every row can be the earlier anchor they duck under,
    so the candidate space shrinks to Σ|cell∩scope|·|cell|.

    Scale shape: one id equi-join (attach cells) + one Exchange by
    (cell, dim) into the grouped block scorer — strictly fewer
    shuffles than the old self-join chain.  A block holds one cell's
    rows (the ``num_cells ∝ n`` contract bounds |cell|); the scorer
    chunks its (|chunk|·|cell|·dim) product tensor to ~32 MB so peak
    task memory is bounded by the cell's vectors, not by |cell|²."""
    from ..functions.vectors import dot_fixed

    # self-norms per ROW in the JVM (one HOF fold per row, not per
    # pair) — the exact dot_fixed(x, x) value: NULL for NULL-element
    # vectors, 0 for zero vectors; both are excluded from scoring
    # below exactly as the old sim expression's NULL/<=0 guard did.
    # Non-participating rows get a zero block vector so the group's
    # matrix stacks without NaN/None handling.
    n2 = dot_fixed(F.col(vec_col), F.col(vec_col))
    assigned = base.join(cells, id_col).select(
        F.col(id_col),
        F.col("cell").cast("int").alias("cell"),
        F.size(F.col(vec_col)).alias("__dim"),
        n2.alias("__n2"),
        F.when(
            n2 > 0,
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
        ).otherwise(
            F.array_repeat(F.lit(0.0), F.size(F.col(vec_col)))
        ).alias("__vd"),
        (F.col(scope_col) if scope_col else F.lit(True)).alias("__scope"),
    )
    idt = assigned.schema[id_col].dataType.simpleString()
    if idt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"semantic dedup: id column {id_col!r} must be integral "
            f"(block scoring orders and min-reduces ids as int64); "
            f"got {idt}"
        )
    thr = float(threshold)

    def _score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        n2v = pdf["__n2"].to_numpy(dtype=np.float64)[order]
        scope = pdf["__scope"].to_numpy()[order]
        cell_ids = pdf["cell"].to_numpy()[order]
        part = n2v > 0  # NaN (NULL n2) and zero-norm both fall out
        m = len(ids)
        emat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["__vd"].to_numpy()[order]]
        ) if m else np.zeros((0, 0))
        dim = emat.shape[1] if m else 0
        inv = np.where(part, np.sqrt(np.where(part, n2v, 1.0)), 1.0)
        found = np.zeros(m, dtype=bool)
        dup_of = np.zeros(m, dtype=np.int64)
        chunk = max(1, (1 << 22) // max(1, m * max(dim, 1)))
        for lo in range(0, m, chunk):
            hi = min(lo + chunk, m)
            sel = part[lo:hi] & scope[lo:hi]
            if not sel.any():
                continue
            # per-element floor(x·y·1e12): each |term| ≤ ~1e12 is exact
            # in float64, and the int64 accumulator sum is exact — the
            # dot_fixed fold, vectorized
            prods = emat[lo:hi, None, :] * emat[None, :, :]
            np.multiply(prods, 1e12, out=prods)
            np.floor(prods, out=prods)
            dots = prods.sum(axis=2, dtype=np.int64)
            sim = (dots / 1e12) / (inv[lo:hi, None] * inv[None, :])
            ok = (
                (sim >= thr)
                & sel[:, None]
                & part[None, :]
                & (ids[None, :] < ids[lo:hi, None])
            )
            has = ok.any(axis=1)
            # ids ascending → first True column is the smallest dup_of
            first = np.argmax(ok, axis=1)
            found[lo:hi] = has
            dup_of[lo:hi] = np.where(has, ids[first], 0)
        keep_rows = scope.astype(bool)
        return pd.DataFrame({
            id_col: pd.Series(ids[keep_rows], dtype=pdf[id_col].dtype),
            "cell": pd.Series(cell_ids[keep_rows], dtype=pdf["cell"].dtype),
            "dup_of": pd.Series(
                [int(d) if f else None
                 for d, f in zip(dup_of[keep_rows], found[keep_rows])],
                dtype="object",
            ),
            "keep": pd.Series(~found[keep_rows], dtype=bool),
        })

    return assigned.groupBy("cell", "__dim").applyInPandas(
        _score_block,
        f"{id_col} {idt}, cell int, dup_of {idt}, keep boolean",
    )


def semantic_dedup_from_index(
    df: DataFrame,
    table: str,
    threshold: float = 0.35,
    asof_seq: int | None = None,
) -> DataFrame:
    """SemDeDup over a PERSISTED IVF index — the train-once/serve-many
    composition :func:`semantic_dedup`'s docstring promises: cell
    assignments come from the stored posting lists of
    ``ann_index.write_ivf_index`` (tombstone-resolved, so deleted or
    superseded vectors never anchor a duplicate verdict), not from an
    in-query k-means — the Lloyd's passes are paid once at index-build
    time, and a nightly dedup re-run is two joins.

    ``df`` supplies the RAW vectors (the index stores the quantized
    ``q``, whose fixed-point recipe differs from ``dot_fixed``'s exact
    12-decimal cosine — same reason probes take a ``queries`` frame);
    column names come from the index stamp.  Output rows are scoped to
    ids present in BOTH ``df`` (with non-NULL embeddings) and the live
    index — an unindexed row has no cell, a tombstoned row is no
    longer corpus.  When the index was built on exactly ``df``'s rows
    with the same k-means parameters, the verdicts are bit-identical
    to :func:`semantic_dedup` (the ``semantic_dedup_indexed`` driver
    query pins this cross-engine).

    ``asof_seq`` pins the verdict run to a SNAPSHOT of the index
    (``ann_index._snapshot`` — only rows and tombstones at ``seq <=
    asof_seq`` participate), so a nightly dedup is REPRODUCIBLE
    against a pinned corpus version under later churn — the
    dataset-versioning contract the probes carry, reaching the
    composition (r14 verdict task 4).  Compaction forfeits asof reads
    below its applied tombstones, as everywhere.

    Scale shape: one id-keyed join (raw vectors ⨝ postings — the same
    shuffle the in-query path pays to attach its trained cells) +
    the shared Σ|cell|² cell-scan; the tombstone resolve is a
    broadcast.  ``num_cells ∝ n`` remains the contract, set at
    index-build time."""
    from .ann_index import _read_stamp, _snapshot

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    spark = df.sparkSession
    p = _read_stamp(spark, table)
    id_col, vec_col = p["id_col"], p["vec_col"]
    spark.catalog.refreshTable(table)
    cells = _snapshot(spark, table, id_col, asof_seq).select(
        id_col, "cell"
    )
    base = df.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    return _semantic_dedup_cells(base, cells, id_col, vec_col, threshold)


def semantic_dedup_increment(
    new_df: DataFrame,
    corpus_df: DataFrame,
    table: str,
    threshold: float = 0.35,
    asof_seq: int | None = None,
) -> DataFrame:
    """Screen a NEW batch against the live indexed corpus — the nightly
    SemDeDup cycle (the ``dedup_against_index`` shape at the semantic
    level): assign each new row's cell with the STORED centroids (one
    map-only pass over the increment, the exact expression
    ``append_to_ivf_index`` writes), then judge ONLY the new rows
    against every live same-cell row.  Candidate space is
    Σ|cell∩new|·|cell| — proportional to the BATCH, not the corpus'
    Σ|cell|².  Screen-then-append equals append-then-rescreen: the
    verdicts are bit-identical to
    :func:`semantic_dedup_from_index` over the post-append index,
    restricted to the new ids (pinned in pytest and by the
    ``semantic_dedup_increment`` driver query cross-engine).

    ``corpus_df`` supplies the indexed rows' RAW vectors by id (the
    index stores quantized ``q`` — same reason the probes take a
    ``queries`` frame).  Contracts: new ids are disjoint from indexed
    ids (the append contract), and the earliest-id keep rule is global
    — assign new batches LARGER ids than the corpus so the existing
    corpus always wins ties.  New rows also screen against EARLIER
    (smaller-id) rows of their own batch, so an internally-duplicated
    batch admits one copy.

    Returns one row per new row with a non-NULL embedding:
    ``(id_col, cell int, dup_of, keep boolean)``.

    ``asof_seq`` pins the CORPUS side to an index snapshot (rows and
    tombstones at ``seq <= asof_seq`` only) — the reproducible-nightly
    contract: tonight's screen, re-run next week against the same
    pinned corpus version, returns identical verdicts regardless of
    churn in between (``corpus_df`` must supply the pinned rows' raw
    vectors, exactly as it supplies the live rows' today).

    Scale shape: the corpus-side id join (vectors ⨝ live postings) is
    the one corpus-scale shuffle — the rescan the stored-q
    representation cannot avoid; the pair scan is batch-proportional;
    the tombstone resolve is a broadcast."""
    from .ann_index import (
        _load_centroids,
        _postings,
        _read_stamp,
        _snapshot,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    spark = new_df.sparkSession
    p = _read_stamp(spark, table)
    id_col, vec_col = p["id_col"], p["vec_col"]
    centroids = _load_centroids(spark, table)
    spark.catalog.refreshTable(table)
    # indexed side: live stored cells (snapshot-pinned when asof_seq
    # is set); new side: stored-centroid assignment (the same guarded
    # expression appends write)
    idx_cells = _snapshot(spark, table, id_col, asof_seq).select(
        id_col, "cell", F.lit(False).alias("__new")
    )
    new_cells = _postings(
        new_df, id_col, vec_col, centroids, p["scale"], p["offset"],
        seq=0,
    ).select(id_col, "cell", F.lit(True).alias("__new"))
    cells = idx_cells.unionByName(new_cells)
    base = (
        corpus_df.select(id_col, vec_col)
        .unionByName(new_df.select(id_col, vec_col))
        .filter(F.col(vec_col).isNotNull())
    )
    return _semantic_dedup_cells(
        base, cells, id_col, vec_col, threshold, scope_col="__new"
    )

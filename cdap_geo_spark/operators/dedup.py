"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The scale story (the reason each exists):

* **exact**: one hash-groupBy — always the first pass at 100 TB; the
  digest is computed map-side, the shuffle carries (digest, id) only.
* **ngram-jaccard**: exact set similarity via LOSSLESS prefix
  filtering (All-Pairs/PPJoin, Bayardo et al. WWW'07) over an
  inverted index — no O(n²) cross join, no hot-shingle quadratic
  partitions. The round-3 rewrite removed the two 100 TB liabilities
  the round-2 version carried: the global single-task dictionary
  window (dense ids are gone — the prefix order is the composite
  ``(document_frequency, shingle)`` key, computed with a per-document
  window only) and the unbounded ``F.broadcast`` hints (all joins are
  plain equi-joins; AQE converts them to broadcast at runtime when a
  side is actually small).
* **MinHash+LSH**: the sub-quadratic path — banded bucket join
  generates candidates, exact verification keeps precision at 1.
* **SimHash**: constant-size fingerprint; candidates via 16-bit band
  tables (hamming<=3 over 64 bits guarantees one equal band of 4).

Hashing is **md5 computed JVM-side** (``F.md5`` inside whole-stage
codegen): md5 is the one digest Spark and DuckDB share, so every
operator here is EXACTLY recomputable by the SQL oracle — and since
round 3 that checkability costs nothing, because no Python hashlib
loop remains on any hot path (the round-2 md5-in-Python defaults made
minhash 2.2x and simhash 5.6x slower than their round-1 fast paths;
the native-md5 pipelines beat both).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from cdap_geo_spark.core.lifetime import (track_checkpoint,
                                           unpersist_checkpoint)
from cdap_geo_spark.functions.relational import ensure_min_parallelism
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from cdap_geo_spark.operators.text import doc_digest, shingles


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(digest, keeper_id, n_dupes): groups of byte-identical
    (normalized) texts; keeper = min id. Survivors = keepers."""
    return (ensure_min_parallelism(df.select(F.col(text_col),
                                             F.col(id_col)))
            .select(doc_digest(F.col(text_col)).alias("digest"),
                    F.col(id_col))
            .groupBy("digest")
            .agg(F.min(id_col).alias("keeper"),
                 F.count("*").alias("n_docs")))


def exact_survivors(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    k = exact_dedup(df, text_col, id_col).select(
        F.col("keeper").alias(id_col))
    return df.join(k, id_col, "left_semi")


# ---------------------------------------------------------------------------
# native md5 hash columns (shared by minhash / simhash / verify)
# ---------------------------------------------------------------------------

def gram_hashes(text: Column, k: int) -> Column:
    """array<long>: distinct 60-bit md5-prefix hashes of the text's
    distinct lower-cased character k-grams — 100% native Catalyst
    (``transform`` + ``md5`` + ``conv``), zero Python, zero shuffle.

    The value is ``int(md5(gram)[:15 hex], 16)`` — 60 bits, so the
    signed-long cast is exact and DuckDB recomputes it verbatim.
    """
    return F.array_distinct(F.transform(
        shingles(text, k),
        lambda g: F.conv(F.substring(F.md5(F.encode(g, "UTF-8")), 1, 15),
                         16, 10).cast("long")))


def token_hash64(tok: Column) -> Column:
    """64-bit md5-prefix token hash as a signed-long BIT PATTERN,
    native: the first 16 hex digits assembled from two 32-bit halves
    (``conv`` parses each half exactly; ``shiftleft`` wraps to the
    signed representation without ANSI overflow)."""
    h = F.md5(F.encode(tok, "UTF-8"))
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


# ---------------------------------------------------------------------------
# bounded broadcast-dict exact verify (shared by ngram-jaccard / minhash)
# ---------------------------------------------------------------------------

#: caps for the broadcast-dict verify: the gram relation is collected
#: and broadcast ONLY while provably under both (bounded probe — an
#: agg over ``limit(cap+1)``, never an unbounded scan). Above either
#: cap the verify falls back to the native array-attach joins, so the
#: operator never broadcasts a corpus-sized relation (the same planner
#: discipline as ``operators/sjoin.py`` / ``operators/embeddings.py``).
VERIFY_DICT_MAX_DOCS = 500_000
VERIFY_DICT_MAX_BYTES = 256 << 20

#: per-worker transient cap for the bitset mapper, in uint64 WORDS per
#: pair chunk. Arrow batches arrive at up to 65,536 pairs; the kernel
#: holds ~4 chunk×nwords uint64 temporaries (two gathered operand
#: blocks, the AND, one popcount scratch), so chunking pairs to
#: 4M words bounds the transient to ~130 MB regardless of batch size
#: or vocabulary width.
_VERIFY_CHUNK_WORDS = 4_000_000

#: docs cap for the ALL-PAIRS bitset regime (ngram_jaccard_pairs
#: ``allpairs``): n²/2 pair evaluations at the measured ~0.9M
#: pairs/s/core (6-word vocab) put 20k docs at ~200M pairs ≈ 7 s on 32
#: cores — the regime is a dense-corpus fast path, never the scale
#: path. Above the cap the operator keeps the distributed prefix join.
ALLPAIRS_MAX_DOCS = 20_000

#: all-pairs task granularity: docs are split into ⌈n/B⌉ index blocks
#: and one task evaluates one (block_i, block_j) pair — B=512 gives
#: 55 tasks at 5k docs (saturates local[32]) and a ≤ B²·nwords-word
#: kernel transient per task.
_ALLPAIRS_BLOCK = 512


def _popcount_rows(v: "np.ndarray") -> "np.ndarray":
    """Row-sum popcount over a 2-D uint64 array: 4-pass SWAR
    (numpy<2 has no ``bitwise_count``), no data-dependent branches."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    v = v - ((v >> np.uint64(1)) & m1)
    v = (v & m2) + ((v >> np.uint64(2)) & m2)
    v = (v + (v >> np.uint64(4))) & m4
    return ((v * h) >> np.uint64(56)).sum(axis=-1).astype(np.int64)


def _dict_caps_ok(rel: DataFrame, arr_col: str) -> bool:
    """Bounded probe: may ``rel`` (id, gram-array) be collected at
    all? An agg over ``limit(cap+1)`` — never an unbounded scan — so
    at corpus scale this is the ONLY job the fast paths run before
    refusing."""
    probe = rel.limit(VERIFY_DICT_MAX_DOCS + 1).agg(
        F.count("*").alias("n"),
        F.sum(F.size(arr_col)).alias("g")).collect()[0]
    return (probe["n"] <= VERIFY_DICT_MAX_DOCS
            and (probe["g"] or 0) * 8 <= VERIFY_DICT_MAX_BYTES)


def _collect_bit_matrix(rel: DataFrame, arr_col: str):
    """Collect ``rel`` (id, gram-array) and build the per-doc BITSET
    matrix: grams are dense-ranked into a contiguous bit space
    (``np.unique``) and each doc becomes a row of ``nwords =
    ceil(nbits/64)`` uint64 words. Returns ``(ids, lens, mat)`` with
    rows sorted by id VALUE (so index order == id order — the
    all-pairs enumerator's ``i < j ⇒ id_i < id_j`` invariant; the
    verify dict doesn't care), or ``None`` when the dense matrix
    would exceed ``VERIFY_DICT_MAX_BYTES`` (wide vocabularies, e.g.
    64-bit hashed grams over a diverse corpus, where nbits ~ total
    distinct grams). Callers MUST have passed :func:`_dict_caps_ok`
    first — this function collects."""
    rows = sorted(rel.select("_id", arr_col).collect(),
                  key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=object)
    lens = np.fromiter((len(r[1]) if r[1] is not None else 0
                        for r in rows), dtype=np.int64, count=len(rows))
    indptr = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(lens, out=indptr[1:])
    flat = np.empty(int(indptr[-1]), dtype=np.int64)
    for i, r in enumerate(rows):
        if lens[i]:
            flat[indptr[i]:indptr[i + 1]] = np.asarray(r[1], dtype=np.int64)
    # dense-rank the gram values into a contiguous bit space; per-row
    # slices need no order at all (set bits commute)
    uniq, flat = np.unique(flat, return_inverse=True)
    nwords = (len(uniq) + 63) // 64 if len(uniq) else 1
    if len(rows) * nwords * 8 > VERIFY_DICT_MAX_BYTES:
        return None
    mat = np.zeros((len(rows), nwords), dtype=np.uint64)
    row_idx = np.repeat(np.arange(len(rows), dtype=np.int64), lens)
    flat = flat.astype(np.uint64)
    # bitwise_or.at, not fancy-assign: several grams of one doc share
    # a word, and fancy assignment keeps only the last write
    np.bitwise_or.at(mat, (row_idx, (flat >> np.uint64(6)).astype(np.int64)),
                     np.uint64(1) << (flat & np.uint64(63)))
    return ids, lens, mat


def _exact_inter_sizes(cand: DataFrame, rel: DataFrame, *,
                       arr_col: str = "_arr",
                       enabled: bool | None = None) -> DataFrame | None:
    """Exact ``(ida, idb, inter, uni)`` for candidate pairs via a
    BROADCAST gram dictionary — or ``None`` when the dictionary is not
    provably small (caller falls back to the array-attach joins).

    Why this exists: the native verify attaches each side's full
    distinct-gram array to every candidate pair and computes
    ``size(array_intersect(...))`` — per pair that allocates a hash
    set plus a result array it immediately discards (measured ~56
    core-µs/pair at sf0.1 k=3/t=40: 10.9M candidates -> 43 s even with
    both build sides broadcast). When the whole gram relation fits the
    bounded caps, shipping it ONCE per worker as a CSR NumPy structure
    and streaming the bare (ida, idb) pairs through a vectorized
    ``mapInPandas`` does the same exact set-intersection with zero
    per-pair allocation. Sorting per row changes nothing semantically
    — the arrays are distinct SETS; ``inter``/``uni`` are order-free.

    Kernel choice is MEASURED, not assumed. Recorded history: v1 (a
    vectorized masked lower-bound loop over the batch: ~log2(max|doc|)
    numpy passes, each allocating where/compare temporaries) LOST to
    the native joins 2x at sf0.1 k=3/t=40 (within-session A/B:
    180.5/88.3 s vs 74.0/42.7 s e2e) — ~63 full passes over the
    gram gather is pure memory traffic. v2 replaced the loop with ONE
    C-level ``np.searchsorted`` over ``pair_idx << 32 | dense_rank``
    composed keys (~6 passes, chunked): stable under host-bandwidth
    weather but still ~1.5x behind the warm native path (on 57.7/54.1
    s vs off 75.5/37.1 s), whose array_intersect runs entirely inside
    whole-stage codegen — so v2 stayed opt-in. v3 (this code) drops
    the per-pair gram gather entirely: grams are dense-ranked once at
    build time (``np.unique``), each doc becomes a BITSET over the
    rank space (nwords = ceil(nbits/64) uint64 words), and the exact
    intersection of a pair is ``popcount(row_a & row_b)`` — a gather
    of 2 fixed-width rows, one AND, and a 4-pass SWAR popcount, all
    flat uint64 lanes with no per-pair allocation. Microbench: 10.9M
    pairs x 6 words = 0.9M pairs/s on ONE core (~12 s), vs the native
    verify's measured ~56 core-µs/pair (~43 s on 32 cores) at the
    same sf0.1 k=3/t=40 config — a ~150x per-core kernel gap, because
    the corpus vocabulary is narrow (377 distinct trigrams → 6 words)
    while the per-doc arrays are ~143 elements.

    Scale story: the dict path is a bounded fast path ONLY — the
    probe refuses unless BOTH the collected gram relation (docs and
    total-gram caps, checked by a bounded ``limit(cap+1)`` agg before
    any collect) AND the dense bit matrix (ndocs x nwords x 8 bytes,
    known only after ``np.unique``) fit ``VERIFY_DICT_MAX_BYTES``.
    Wide vocabularies (e.g. 64-bit hashed grams over a diverse corpus,
    where nbits ~ total distinct grams) blow the matrix cap and fall
    back to the native array-attach joins; the pair relation itself
    never collects.
    """
    if enabled is not True:
        return None
    if not _dict_caps_ok(rel, arr_col):
        return None
    built = _collect_bit_matrix(rel, arr_col)
    if built is None:
        return None     # vocabulary too wide for the dense bit matrix
    ids, lens, mat = built
    spark = cand.sparkSession
    bc = spark.sparkContext.broadcast((ids, lens, mat))

    out_schema = T.StructType([
        cand.schema["ida"], cand.schema["idb"],
        T.StructField("inter", T.LongType()),
        T.StructField("uni", T.LongType())])

    def mapper(batches):
        dids, dlens, dmat = bc.value
        idx = pd.Index(dids)
        chunk = max(1, _VERIFY_CHUNK_WORDS // dmat.shape[1])
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ai = idx.get_indexer(pdf["ida"].to_numpy())
            bi = idx.get_indexer(pdf["idb"].to_numpy())
            if (ai < 0).any() or (bi < 0).any():
                raise ValueError(
                    "verify dict is missing a candidate doc id")
            inter = np.empty(n, dtype=np.int64)
            for s in range(0, n, chunk):
                e = min(s + chunk, n)
                inter[s:e] = _popcount_rows(dmat[ai[s:e]] & dmat[bi[s:e]])
            la, lb = dlens[ai], dlens[bi]
            yield pd.DataFrame({
                "ida": pdf["ida"].to_numpy(),
                "idb": pdf["idb"].to_numpy(),
                "inter": inter,
                "uni": la + lb - inter})

    return cand.select("ida", "idb").mapInPandas(mapper, out_schema)


def _allpairs_wins(n_docs: int, vocab: int, prefix_total: int) -> bool:
    """Regime cost test for :func:`ngram_jaccard_pairs`: by
    Cauchy-Schwarz, the prefix self-join materializes ``Σ_g c_g² ≥
    P²/V`` match rows (P = total prefix entries, V = vocabulary size) —
    a LOWER bound on the join's work before the pair groupBy even
    runs. When that bound already reaches the total pair count
    ``n²/2``, filtered enumeration cannot beat exhaustive enumeration
    on row count, and each all-pairs "row" (one bitset AND+popcount,
    no shuffle) is far cheaper than a shuffled join row — so the
    all-pairs regime wins. Dense similar corpora with narrow
    vocabularies (the measured sf0.1 trigram corpus: V=377,
    P²/V ≈ 40× n²/2) switch; diverse corpora (V in the millions)
    keep the distributed prefix join, which is the scale path."""
    return vocab > 0 and 2 * prefix_total * prefix_total >= vocab * n_docs * n_docs


def _allpairs_bitset_pairs(rel: DataFrame, *, threshold_pct: int,
                           arr_col: str = "_arr") -> DataFrame | None:
    """Exact jaccard over ALL doc pairs via the broadcast bitset
    matrix: docs are split into index blocks of ``_ALLPAIRS_BLOCK``
    and one task evaluates one (block_i ≤ block_j) pair with a
    vectorized 3-D ``AND`` + SWAR popcount — no candidate join, no
    shuffle, output only the pairs passing the integer threshold
    test. Returns ``None`` when the dense matrix refuses
    (:func:`_collect_bit_matrix`); the CALLER enforces the docs cap
    (``ALLPAIRS_MAX_DOCS``) with a bounded probe before calling.

    ``id_a < id_b`` by value: the matrix rows are sorted by id, so
    the block-grid's ``global_index_a < global_index_b`` invariant is
    the id order. Zero-gram docs are excluded before the build (they
    produce no gram rows in the join regimes either — a 0/0 jaccard
    is no pair, matching the SQL oracle)."""
    spark = rel.sparkSession
    built = _collect_bit_matrix(rel.filter(F.size(arr_col) > 0), arr_col)
    if built is None:
        return None
    ids, lens, mat = built
    id_type = rel.schema["_id"].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_type), T.StructField("id_b", id_type),
        T.StructField("inter", T.LongType()),
        T.StructField("uni", T.LongType())])
    n = len(ids)
    if n < 2:
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast((ids, lens, mat))
    nblk = (n + _ALLPAIRS_BLOCK - 1) // _ALLPAIRS_BLOCK
    grid = [(i, j) for i in range(nblk) for j in range(i, nblk)]
    bdf = spark.createDataFrame(grid, "bi long, bj long").repartition(
        min(len(grid), spark.sparkContext.defaultParallelism * 2))
    blk = _ALLPAIRS_BLOCK
    pct = int(threshold_pct)

    def mapper(batches):
        dids, dlens, dmat = bc.value
        nwords = dmat.shape[1]
        for pdf in batches:
            for bi, bj in zip(pdf["bi"].to_numpy(), pdf["bj"].to_numpy()):
                a0, a1 = int(bi) * blk, min((int(bi) + 1) * blk, len(dids))
                b0, b1 = int(bj) * blk, min((int(bj) + 1) * blk, len(dids))
                bm = dmat[b0:b1]
                lb = dlens[b0:b1]
                # chunk A-rows so the 3-D AND transient stays bounded
                step = max(1, _VERIFY_CHUNK_WORDS // max(len(bm) * nwords, 1))
                for s in range(a0, a1, step):
                    e = min(s + step, a1)
                    inter = _popcount_rows(
                        dmat[s:e, None, :] & bm[None, :, :])
                    uni = dlens[s:e, None] + lb[None, :] - inter
                    ok = 100 * inter >= pct * uni
                    if bi == bj:
                        # same block: upper triangle only (i < j)
                        ok &= (np.arange(s, e)[:, None]
                               < np.arange(b0, b1)[None, :])
                    ii, jj = np.nonzero(ok)
                    if len(ii):
                        yield pd.DataFrame({
                            "id_a": dids[s + ii], "id_b": dids[b0 + jj],
                            "inter": inter[ii, jj], "uni": uni[ii, jj]})

    return bdf.mapInPandas(mapper, out_schema)


# ---------------------------------------------------------------------------
# exact n-gram jaccard (PPJoin prefix filtering, fully distributed)
# ---------------------------------------------------------------------------

def _bucket_count_sketch(buckets: int):
    """Pandas-UDF factory: per-row histogram of ``gram & (buckets-1)``
    over an ``array<long>`` gram-hash column, PACKED for codegen:
    counts are clipped to 7 bits and packed 8-per-long little-endian,
    returning ``array<long>`` of length ``buckets/8 + 1`` whose LAST
    element is the total clipping overflow ``sum(count - min(count,
    127))``. One vectorized ``np.bincount`` per row, computed ONCE
    map-side over the checkpointed gram relation (Arrow-batched — no
    per-row Python UDF).

    Packing (not an ``array<int>``) is what keeps the per-match bound
    in whole-stage codegen: higher-order functions (``zip_with`` /
    ``aggregate``) are interpreted per row, and the measured overhead
    at sf0.1/t=60% was ~2 µs × 5M match rows ≈ 10 s regardless of
    array length; :func:`_packed_minsum` replaces them with flat
    bitwise long arithmetic. The overflow word keeps the bound
    lossless under clipping: ``min(cx,cy) <= min(ĉx,ĉy) + (cx-ĉx) +
    (cy-ĉy)`` per bucket, so ``inter <= Σ min(ĉx,ĉy) + OVx + OVy``."""
    if buckets & (buckets - 1) or buckets < 8:
        raise ValueError(
            f"sketch_buckets must be a power of 2 and >= 8: {buckets}")
    mask = buckets - 1

    @pandas_udf(T.ArrayType(T.LongType()))
    def f(arrs: pd.Series) -> pd.Series:
        def one(a):
            c = np.bincount(np.asarray(a, dtype=np.int64) & mask,
                            minlength=buckets)
            clipped = np.minimum(c, 127).astype(np.uint8)
            packed = clipped.view("<u8").astype(np.int64)
            return np.append(packed, int(c.sum() - clipped.sum()))
        return arrs.map(one)
    return f


def _packed_minsum(ska: Column, skb: Column, buckets: int) -> Column:
    """``Σ_b min(ĉx[b], ĉy[b]) + OVx + OVy`` over two packed sketches —
    a lossless upper bound on ``|x ∩ y|`` (every shared gram lands in
    the same bucket on both sides; see :func:`_bucket_count_sketch`
    for the clipping correction). Pure codegen'd long arithmetic:
    per packed long, byte lanes are split into even/odd 16-bit
    half-lanes, compared with a guard bit at half-lane bit 8 (all
    operands stay positive and < 2^57, so the arithmetic is ANSI-safe
    — no signed overflow), lane-wise ``min`` selected by mask, and the
    16-bit half-lane sums accumulated across all longs (max 2·16·127
    per lane — no cross-lane carry) before one final lane fold."""
    nlongs = buckets // 8
    EVEN = F.lit(0x00FF00FF00FF00FF)   # even byte lanes, widened to 16b
    GUARD = F.lit(0x0100010001000100)  # borrow guard at half-lane bit 8
    ONES = F.lit(0x0001000100010001)
    LANE = F.lit(0xFFFF)

    def lane_min(a_h, b_h):
        # per 16-bit half-lane (values <= 0x7F): min(a, b); the mask
        # complement is an XOR against the lane field (no unary ~ on
        # Columns)
        ge = F.shiftrightunsigned((a_h.bitwiseOR(GUARD) - b_h), 8) \
              .bitwiseAND(ONES)
        msk = ge * F.lit(0xFF)             # 0xFF in half-lanes where a>=b
        inv = msk.bitwiseXOR(EVEN)         # 0xFF where a <  b
        return b_h.bitwiseAND(msk).bitwiseOR(a_h.bitwiseAND(inv))

    acc = None
    for i in range(nlongs):
        a = F.element_at(ska, i + 1)
        b = F.element_at(skb, i + 1)
        a_e, b_e = a.bitwiseAND(EVEN), b.bitwiseAND(EVEN)
        a_o = F.shiftrightunsigned(a, 8).bitwiseAND(EVEN)
        b_o = F.shiftrightunsigned(b, 8).bitwiseAND(EVEN)
        part = lane_min(a_e, b_e) + lane_min(a_o, b_o)
        acc = part if acc is None else acc + part
    total = (acc.bitwiseAND(LANE)
             + F.shiftrightunsigned(acc, 16).bitwiseAND(LANE)
             + F.shiftrightunsigned(acc, 32).bitwiseAND(LANE)
             + F.shiftrightunsigned(acc, 48).bitwiseAND(LANE))
    return (total
            + F.element_at(ska, nlongs + 1)
            + F.element_at(skb, nlongs + 1))


def ngram_jaccard_pairs(df: DataFrame, *, k: int = 3,
                        threshold_pct: int = 40,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_df: int | None = None,
                        prefix_filter: bool = True,
                        hashed: bool = True,
                        sketch: bool | None = None,
                        sketch_buckets: int = 128,
                        dict_verify: bool | None = None,
                        allpairs: bool | None = None,
                        _return_candidates: bool = False) -> DataFrame:
    """(id_a, id_b, inter, uni) for pairs with jaccard >= threshold_pct/100
    over distinct character k-grams; id_a < id_b.

    Candidate generation uses LOSSLESS prefix filtering (the All-Pairs /
    PPJoin principle, Bayardo et al. WWW'07): under any global shingle
    order, a pair with J >= t must share a shingle within the first
    ``sz - ceil(t*sz) + 1`` shingles of EACH side. The global order is
    the composite ``(document_frequency ASC, shingle ASC)`` key — rare
    shingles first, so stopword shingles never enter a prefix and no
    single hot shingle can produce a quadratic join partition. No dense
    dictionary ids exist: each shingle's in-document rank comes from a
    ``partitionBy(_id)`` window (per-document, fully distributed — the
    round-2 version's global no-partition window was a single-task
    stage, fatal at corpus scale).

    Candidates are verified EXACTLY with native ``array_intersect``
    over each doc's full distinct-shingle array, so the output is
    identical to the naive inverted-index join (same rows as the SQL
    oracle). All joins are plain equi-joins sized by AQE at runtime —
    no unconditional broadcast of corpus-sized relations.

    Pure integer outputs and an integer threshold comparison
    (100*inter >= pct*uni) keep the result bit-comparable to the SQL
    oracle. ``max_df`` additionally drops shingles occurring in more
    than that many docs (changes semantics; off by default).
    ``prefix_filter=False`` falls back to the plain inverted-index
    count (useful for tiny inputs / property tests).

    ``hashed=True`` (default) computes the SAME jaccard over each
    doc's distinct 60-bit md5-prefix GRAM-HASH set
    (:func:`gram_hashes`) instead of the raw gram strings: join keys,
    prefix entries and verify arrays are all 8-byte longs (cheaper
    hashing/compares/shuffles than UTF8 strings), and the SQL oracle
    recomputes the identical hash (the minhash-oracle pattern), so
    checkability is unchanged. Distinct-set identity is preserved up
    to md5 collisions — and both engines share the same collisions by
    construction. ``hashed=False`` keeps the raw-string variant.

    **High-threshold candidate culls (round 5, both LOSSLESS — output
    rows are provably identical, the SQL oracle is unchanged):** the
    round-4 profile measured an 18,000:1 false-candidate ratio at
    k=5/t=60% (4.60M candidates → 256 true pairs; exact verify = 63%
    of the 32 s wall). Two extra filters close that gap:

    1. **Count-sketch pre-verify bound, evaluated per deduped pair in
       a JIT-compiled Project stage** (``sketch=True``; default
       auto-on when ``threshold_pct >= 55``). Each doc carries a
       ``sketch_buckets``-bucket histogram of its gram hashes (mod
       buckets), joined onto the deduped candidate pairs, so the exact
       bound ``inter(x,y) <= sum_b min(cx[b], cy[b])`` (counts are
       exact, every shared gram lands in the same bucket on both
       sides) kills ~99% of false candidates BEFORE the full-array
       verify join. The bound lives in a Project — NOT the join
       condition or a plain filter, both of which Catalyst would fold
       into the join, where codegen cannot split the ~400-op SWAR
       expression and trips Janino's 64KB method limit (see the
       in-code comment at the plan-barrier construction). For ~290-gram docs at
       t=60% the expected unrelated-pair bound (~186 at B=128) sits
       several σ below the required overlap (~221), so ~99% of false
       candidates die here at the cost of +4·B bytes per prefix row
       — linear in corpus size, vs the superlinear candidate set it
       removes. Auto-off at low thresholds, where most candidates are
       true pairs and the bound rarely fires.
    2. **Aggregated PPJoin bound** (always on): the per-match
       positional bound ``1 + min(sz - pos)`` is monotone-decreasing
       in position, so the matches that survive it are a position-
       prefix of the pair's common-prefix tokens; grouping them gives
       the streaming-PPJoin accumulated bound ``c + min(sza - pa_max,
       szb - pb_max)`` (Xiao et al. WWW'08), valid because every
       common token before the last surviving match is itself a
       counted match. This replaces the round-4 ``dropDuplicates``
       with a same-shuffle ``groupBy`` that also tightens multi-match
       pairs for free.

    ``dict_verify=True`` (round 5d, opt-in) swaps the exact-verify
    stage for the bounded broadcast-dict kernel — see
    :func:`_exact_inter_sizes` for the measured A/B that keeps the
    native joins the default.

    **All-pairs bitset regime (round 5e, auto):** profiling the
    sf0.1 k=3/t=40 bench config showed candidate GENERATION, not
    verify, dominating (~40 s of the ~44 s wall): with a 377-gram
    vocabulary the prefix self-join materializes Σ_g c_g² ≥ P²/V ≈
    5×10⁸ match rows to find 10.9M candidates among 12.5M total
    pairs (73% of which are true pairs — filtering is pointless at
    this density). When a bounded probe proves the corpus small
    (``ALLPAIRS_MAX_DOCS``, byte cap) AND the match-row lower bound
    reaches n²/2 (:func:`_allpairs_wins`), the operator switches to
    exhaustive enumeration over the broadcast bitset matrix
    (:func:`_allpairs_bitset_pairs`): one AND+popcount per pair, no
    join, no shuffle, bit-identical output. ``allpairs=False`` opts
    out; ``allpairs=True`` forces (still cap-bounded). Diverse
    corpora (vocab ≫ prefix-length²) and corpus-scale inputs never
    switch — the distributed prefix join remains the scale path.
    """
    # widen a narrow scan BEFORE the gram stage: the md5 gram hashing
    # is the operator's dominant map cost and must not serialize on a
    # one-file input (measured 8.3 s -> 1.3 s at sf0.1; no-op at scale)
    src = ensure_min_parallelism(
        df.select(F.col(id_col).alias("_id"),
                  F.col(text_col).alias("_t")))
    if hashed:
        arr = src.select("_id", gram_hashes(F.col("_t"), k).alias("_arr"))
    else:
        arr = src.select("_id", shingles(F.col("_t"), k).alias("_arr"))
    # materialized ONCE: arr feeds ~5 plan sites (df-explode, sizes,
    # both verify sides) and the shingle PUDF would otherwise re-scan
    # the corpus per site — the same re-derivation trap measured 2.7x
    # on simhash. Stored blocks are (id, distinct-gram array): the
    # relation every downstream join reads anyway.
    arr = track_checkpoint(arr.localCheckpoint())
    sh = arr.select("_id", F.explode("_arr").alias("sh"))
    if max_df is not None:
        keep = sh.groupBy("sh").count().filter(F.col("count") <= max_df) \
                 .select("sh")
        sh = track_checkpoint(
            sh.join(keep, "sh").localCheckpoint())  # AQE broadcasts keep
        sizes = sh.groupBy("_id").agg(F.count("*").alias("sz"))
        sets = sh.groupBy("_id").agg(F.collect_list("sh").alias("_arr"))
    else:
        sizes = arr.select("_id", F.size("_arr").alias("sz"))
        sets = arr

    if not prefix_filter:
        # plain inverted-index join; repartition by shingle breaks the
        # single-input-file trap (1-file parquet scan = 1 task)
        shp = sh.repartition(F.col("sh"))
        a = shp.toDF("ida", "sh")
        b = shp.toDF("idb", "sh")
        inter = (a.join(b, "sh")
                 .filter(F.col("ida") < F.col("idb"))
                 .groupBy("ida", "idb").agg(F.count("*").alias("inter")))
        out = (inter
               .join(sizes.toDF("ida", "sza"), "ida")
               .join(sizes.toDF("idb", "szb"), "idb")
               .select(F.col("ida").alias("id_a"),
                       F.col("idb").alias("id_b"), "inter",
                       (F.col("sza") + F.col("szb") - F.col("inter"))
                       .alias("uni")))
        return out.filter(F.lit(100) * F.col("inter")
                          >= F.lit(threshold_pct) * F.col("uni"))

    # prefix length = sz - ceil(pct*sz/100) + 1 (integer ceil)
    plen = (F.col("sz")
            - F.floor((F.col("sz") * threshold_pct + 99) / 100) + 1)

    # ---- all-pairs bitset regime (bounded, auto) -------------------
    # Gate order keeps every decision job bounded: (1) a limit(cap+1)
    # probe on docs + total grams — at corpus scale this fails first
    # and is the ONLY job spent; (2) only on a provably small corpus,
    # two cheap aggs feed the _allpairs_wins cost test (see its
    # docstring — the prefix join's match-row LOWER bound P²/V vs the
    # total pair count n²/2). allpairs=True forces (still cap-bound),
    # allpairs=False never probes.
    if allpairs is not False and not _return_candidates:
        probe = sets.limit(ALLPAIRS_MAX_DOCS + 1).agg(
            F.count("*").alias("n"),
            F.sum(F.size("_arr")).alias("g")).collect()[0]
        if (probe["n"] <= ALLPAIRS_MAX_DOCS
                and (probe["g"] or 0) * 8 <= VERIFY_DICT_MAX_BYTES):
            if allpairs is True:
                go = True
            else:
                st = sizes.agg(F.sum(plen).alias("p"),
                               F.count("*").alias("n")).collect()[0]
                vocab = sh.select("sh").distinct().count()
                go = _allpairs_wins(st["n"], vocab, int(st["p"] or 0))
            if go:
                out = _allpairs_bitset_pairs(
                    sets, threshold_pct=threshold_pct)
                if out is not None:
                    return out

    # document frequency per shingle — grouped agg (map-side partial),
    # output bounded by |alphabet|^k, never by corpus size
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
    ranked = sh.join(dfreq, "sh")   # AQE broadcasts the small dfreq side
    w = Window.partitionBy("_id").orderBy("_df", "sh")
    pos = ranked.withColumn("_pos", F.row_number().over(w)) \
                .join(sizes, "_id")
    use_sketch = sketch if sketch is not None else threshold_pct >= 55
    # materialized ONCE: pref feeds both join sides, and its lineage
    # holds the per-document rank window (a full shuffle of the
    # exploded shingle relation) — re-deriving it would run that
    # shuffle twice
    pref = track_checkpoint(
        pos.filter(F.col("_pos") <= plen)
           .select("_id", "sh", "_pos", "sz")
           .localCheckpoint())
    a = pref.toDF("ida", "sh", "pa", "sza")
    b = pref.toDF("idb", "sh", "pb", "szb")
    pct = F.lit(threshold_pct)
    # PPJoin filters evaluated INSIDE the join stage (codegen'd, before
    # any shuffle): length filter (min sz >= t * max sz) and positional
    # filter (inter <= min(sz - pos) + 1, which must still satisfy
    # (100+pct)*inter >= pct*(sza+szb); the loosest — first — match of
    # any qualifying pair passes, so no true pair is lost)
    ub = F.least(F.col("sza") - F.col("pa"), F.col("szb") - F.col("pb")) + 1
    cond = ((F.col("ida") < F.col("idb"))
            & (F.lit(100) * F.col("sza") >= pct * F.col("szb"))
            & (F.lit(100) * F.col("szb") >= pct * F.col("sza"))
            & ((F.lit(100) + pct) * ub
               >= pct * (F.col("sza") + F.col("szb"))))
    matches = a.join(b, "sh").filter(cond) \
               .select("ida", "idb", "pa", "pb", "sza", "szb")
    # distinct pairs via the SAME shuffle dropDuplicates would run,
    # but aggregating the streaming-PPJoin accumulated bound: c prefix
    # matches survived (a position-prefix of the common tokens — see
    # docstring), so inter <= c + min(sza - max(pa), szb - max(pb));
    # max(pa) and max(pb) come from the same match row because the
    # global (df, sh) order ranks both docs identically.
    grp = matches.groupBy("ida", "idb").agg(
        F.count("*").alias("_c"),
        F.max("pa").alias("_mpa"), F.max("pb").alias("_mpb"),
        F.first("sza").alias("_gsza"), F.first("szb").alias("_gszb"))
    aggub = F.col("_c") + F.least(F.col("_gsza") - F.col("_mpa"),
                                  F.col("_gszb") - F.col("_mpb"))
    cand = grp.filter((F.lit(100) + pct) * aggub
                      >= pct * (F.col("_gsza") + F.col("_gszb"))) \
              .select("ida", "idb", "_gsza", "_gszb")
    if use_sketch:
        # count-sketch cull per DEDUPED pair, in its own lean stage.
        # Placement matters: evaluated inside the prefix self-join the
        # fused join+bound method exceeded the JIT's 8K-bytecode inline
        # limit and ran interpreted (measured 29.5 s vs 3.0 s for the
        # slim join at sf0.1/t=60%); here the stage is just two id
        # equi-joins (AQE broadcasts the docs-scale sketch relation
        # when small, shuffles the 16-byte pair rows otherwise) plus
        # the packed-long bound, which stays JIT-compiled (~0.1 µs/row)
        sk = track_checkpoint(arr.select(
            "_id",
            _bucket_count_sketch(sketch_buckets)("_arr").alias("_sk"))
            .localCheckpoint())
        skub = _packed_minsum(F.col("ska"), F.col("skb"), sketch_buckets)
        # The bound must be evaluated in a PROJECT, not a filter: a
        # filter referencing both join sides gets folded into the
        # BroadcastHashJoin/SortMergeJoin CONDITION, where whole-stage
        # codegen can neither split methods nor share subexpressions —
        # the ~400-op SWAR tree re-inlines every reused mask and blows
        # Janino's 64KB method limit, silently degrading the ENTIRE
        # fused stage (joins + exact verify + aggregate) to
        # interpreted execution (observed: 'Code grows beyond 64 KB'
        # fallback at every SF). In a Project, Spark's subexpression
        # elimination extracts each reused subtree into its own
        # generated method and the stage stays JIT-compiled. The
        # filter is pinned ABOVE the Project by an always-false
        # disjunct on a nondeterministic column (mono-id is >= 0, so
        # `< -1` never fires): Catalyst only pushes predicates through
        # a project whose fields are ALL deterministic, so the alias
        # is never substituted back into the join condition — and the
        # reference must live in the CONDITION, or column pruning
        # drops the barrier column and re-enables the push (a plain
        # rand() disjunct doesn't survive either: Spark 4 range-folds
        # rand comparisons). Semantically a no-op; plan pytest-pinned.
        cand = (cand
                .join(sk.toDF("ida", "ska"), "ida")
                .join(sk.toDF("idb", "skb"), "idb")
                .select("ida", "idb", "_gsza", "_gszb",
                        skub.alias("_skub"),
                        F.monotonically_increasing_id().alias("_bar"))
                .filter(((F.lit(100) + pct) * F.col("_skub")
                         >= pct * (F.col("_gsza") + F.col("_gszb")))
                        | (F.col("_bar") < F.lit(-1)))
                .select("ida", "idb"))
    else:
        cand = cand.select("ida", "idb")
    if _return_candidates:          # profiling/test hook: the pair set
        return cand                 # that reaches the exact verify stage
    thr = (F.lit(100) * F.col("inter")
           >= F.lit(threshold_pct) * F.col("uni"))
    # opt-in broadcast-dict verify (dict_verify=True): bounded probe,
    # CSR dict per worker, searchsorted kernel. NOT the default — the
    # measured A/B (see _exact_inter_sizes) has the native
    # array_intersect joins ~1.5x faster warm; the dict path's value
    # is weather-stability and the recorded negative result.
    iv = _exact_inter_sizes(cand, sets, enabled=dict_verify)
    if iv is not None:
        return (iv.select(F.col("ida").alias("id_a"),
                          F.col("idb").alias("id_b"), "inter", "uni")
                  .filter(thr))
    # exact verify over full distinct-shingle arrays — native
    # array_intersect, no Python. Plain joins: when the sets relation
    # is small AQE broadcasts it; at corpus scale it degrades to a
    # sort-merge join instead of a broadcast OOM (round-2 wrong #2).
    sa = sets.select(F.col("_id").alias("ida"), F.col("_arr").alias("arr_a"),
                     F.size("_arr").alias("sza"))
    sb = sets.select(F.col("_id").alias("idb"), F.col("_arr").alias("arr_b"),
                     F.size("_arr").alias("szb"))
    out = (cand.join(sa, "ida").join(sb, "idb")
           .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"),
                   F.size(F.array_intersect("arr_a", "arr_b"))
                   .cast("long").alias("inter"),
                   (F.col("sza") + F.col("szb")).alias("tot"))
           .withColumn("uni", F.col("tot") - F.col("inter"))
           .drop("tot"))
    return out.filter(thr)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_PRIME = (1 << 61) - 1


def minhash_params(num_perm: int = 64, seed: int = 7):
    """The deterministic (a, b) permutation constants — shared by the
    Spark kernel and the generated SQL oracle (embedded as literals)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 31, num_perm).astype(np.uint64) * 2 + 1
    b = rng.randint(0, 1 << 31, num_perm).astype(np.uint64)
    return a, b


def minhash_signature_from_hashes(num_perm: int = 64, seed: int = 7):
    """Arrow PUDF: array<long> shingle hashes -> array<long> MinHash
    signature. Pure NumPy over already-hashed integer arrays (the md5
    gram hashing happens JVM-side in :func:`gram_hashes`); permutations
    are ``((a*x mod 2^64) + b mod 2^64) mod p`` with deterministic
    a, b from ``seed`` — identical across executors (no broadcast) AND
    exactly recomputable in DuckDB HUGEINT arithmetic, which is what
    gives this operator a full value-level SQL oracle.
    """
    p = np.uint64(MINHASH_PRIME)
    a, b = minhash_params(num_perm, seed)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(harrs: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for arr in harrs:
                if arr is None or len(arr) == 0:
                    out.append([0] * num_perm)
                    continue
                hs = np.asarray(arr, dtype=np.uint64)
                # (num_perm, n) — min over shingles per permutation;
                # uint64 wrap-around is part of the (documented) family
                vals = (a[:, None] * hs[None, :] + b[:, None]) % p
                out.append([int(v) for v in vals.min(axis=1)])
        return pd.Series(out)
    return _sig


def minhash_lsh_pairs(df: DataFrame, *, num_perm: int = 64, bands: int = 16,
                      k: int = 5, threshold: float = 0.5,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      dict_verify: bool | None = None) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH + exact verification.

    rows/bands = 4 -> candidate recall kicks in around jaccard ~0.5.
    Verification computes EXACT jaccard with native ``array_intersect``
    over the JVM-side md5 shingle-hash arrays, so precision is 1
    (against the k-gram jaccard measure) and no text ever re-enters
    Python. Output: (id_a, id_b, inter, uni) with id_a < id_b.

    Scale plan: one narrow base relation (id, hash array, signature),
    banded self-equi-join for candidates (never all-pairs), plain
    verify joins sized by AQE (broadcast when small, sort-merge at
    corpus scale). The base relation is materialized ONCE with a
    lineage-truncating ``localCheckpoint``: it feeds four plan sites
    (two band sides, two verify sides), and relying on ReuseExchange
    instead leaves the full shingle+signature subtree in every one of
    them — Catalyst re-analyzes it per action and the reuse doesn't
    cover the un-exchanged ``mapInPandas`` stage (measured 2.7x on the
    sibling simhash operator). At corpus scale this is the plan you
    want anyway: fingerprints computed once, stored executor-local,
    band and verify joins reading the stored blocks.
    """
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    # widen narrow scans before the gram+signature map stage (the
    # single-input-file trap; no-op on well-partitioned inputs)
    sig = ensure_min_parallelism(
            df.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_t"))) \
            .select("_id", gram_hashes(F.col("_t"), k).alias("_hs")) \
            .withColumn("_sig",
                        minhash_signature_from_hashes(num_perm)(F.col("_hs"))) \
            .localCheckpoint()
    sig = track_checkpoint(sig)

    # band key = md5 of the comma-joined band slice (NOT F.hash: md5 is
    # the engine-independent choice the SQL oracle can recompute)
    def _bkey(i):
        vals = [F.element_at("_sig", i * rows_per_band + j + 1)
                .cast("string") for j in range(rows_per_band)]
        return F.md5(F.concat_ws(",", *vals))

    bands_df = sig.select(
        "_id",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), _bkey(i).alias("bkey"))
            for i in range(bands)])).alias("b"))
    bands_df = bands_df.select("_id", "b.band", "b.bkey")
    cand = (bands_df.toDF("ida", "band", "bkey")
            .join(bands_df.toDF("idb", "band", "bkey"), ["band", "bkey"])
            .filter(F.col("ida") < F.col("idb"))
            .select("ida", "idb").dropDuplicates(["ida", "idb"]))
    # exact verify — native array_intersect on the hash arrays;
    # integer threshold test (2*inter >= uni for 0.5) so the pass/fail
    # decision is FP-free and oracle-identical
    thr_num, thr_den = float(threshold).as_integer_ratio()
    # same opt-in broadcast-dict verify as ngram_jaccard_pairs
    # (dict_verify=True only; the native joins are the default)
    iv = _exact_inter_sizes(cand, sig.select("_id", "_hs"),
                            arr_col="_hs", enabled=dict_verify)
    if iv is not None:
        return (iv.filter(F.col("inter") * thr_den
                          >= F.col("uni") * thr_num)
                  .select(F.col("ida").alias("id_a"),
                          F.col("idb").alias("id_b"), "inter", "uni"))
    sa = sig.select(F.col("_id").alias("ida"), F.col("_hs").alias("ha"))
    sb = sig.select(F.col("_id").alias("idb"), F.col("_hs").alias("hb"))
    return (cand.join(sa, "ida").join(sb, "idb")
            .withColumn("inter", F.size(F.array_intersect("ha", "hb"))
                        .cast("long"))
            .withColumn("uni", (F.size("ha") + F.size("hb")).cast("long")
                        - F.col("inter"))
            .filter(F.col("inter") * thr_den >= F.col("uni") * thr_num)
            .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"),
                    "inter", "uni"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_rel(df: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text",
                token_hash: str = "md5", seed: int = 11) -> DataFrame:
    """(id, sh): 64-bit SimHash of whitespace tokens — sign-vote per
    bit over 64-bit token hashes, MSB-first packing.

    Fully native pipeline: explode tokens -> md5 token hash
    (:func:`token_hash64`, JVM-side) -> 64 per-bit vote sums in ONE
    grouped aggregation (map-side partial agg; the shuffle carries one
    64-column row per doc per map partition) -> native bit packing.
    ``token_hash='splitmix'`` swaps in the round-1 Python fast path
    (kept for A/B only — the native md5 pipeline is faster AND
    oracle-checkable).
    """
    if token_hash != "md5":
        return df.select(F.col(id_col).alias("_id"),
                         _simhash_python_udf(token_hash, seed)
                         (F.col(text_col)).alias("sh"))
    # widen narrow scans first: the per-token md5 votes are computed
    # map-side BEFORE the groupBy shuffle, so a one-file input would
    # serialize the whole hashing stage on one core (no-op at scale)
    toks = ensure_min_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))) \
        .select("_id",
                F.explode(F.split(F.lower(F.col("_t")), r"\s+")).alias("tok")) \
        .filter(F.col("tok") != "")
    hv = token_hash64(F.col("tok"))
    bit = [F.shiftrightunsigned(hv, 63 - j).bitwiseAND(F.lit(1))
           for j in range(64)]
    votes = toks.groupBy("_id").agg(
        *[F.sum(bit[j] * 2 - 1).alias(f"v{j}") for j in range(64)])
    packed = F.lit(0).cast("long")
    for j in range(64):
        packed = packed.bitwiseOR(
            F.when(F.col(f"v{j}") > 0,
                   F.shiftleft(F.lit(1).cast("long"), 63 - j))
            .otherwise(F.lit(0).cast("long")))
    sh = votes.select("_id", packed.alias("sh"))
    # docs with no tokens (empty/whitespace/null text) hash to 0
    return (df.select(F.col(id_col).alias("_id"))
            .join(sh, "_id", "left")
            .select("_id", F.coalesce("sh", F.lit(0).cast("long"))
                    .alias("sh")))


def _simhash_python_udf(token_hash: str, seed: int):
    """Round-1 Python SimHash (splitmix token hash) — A/B reference."""
    @pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), np.int64)
        shifts = np.uint64(63) - np.arange(64, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i, txt in enumerate(texts):
                if txt is None:
                    continue
                toks = txt.lower().split()
                if not toks:
                    continue
                hs = np.fromiter(
                    (hash_token(t, seed) for t in toks), np.uint64,
                    count=len(toks))
                bits = ((hs[:, None] >> shifts[None, :])
                        & np.uint64(1)).astype(np.int64)
                votes = (2 * bits - 1).sum(axis=0)
                v = np.uint64(0)
                for bidx in np.flatnonzero(votes > 0):
                    v |= np.uint64(1) << shifts[bidx]
                out[i] = np.int64(v)
        return pd.Series(out)
    return _sh


def hash_token(tok: str, seed: int) -> np.uint64:
    with np.errstate(over="ignore"):
        z = np.uint64(seed)
        for ch in tok.encode("utf-8", "ignore"):
            z = (z ^ np.uint64(ch)) * np.uint64(0x100000001B3)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def simhash_pairs(df: DataFrame, *, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  token_hash: str = "md5") -> DataFrame:
    """(id_a, id_b, hamming<=max) via 16-bit band candidates + verify.

    With 4 bands of 16 bits, any pair within hamming 3 shares at least
    one identical band (pigeonhole) — candidate recall is exact.
    Band i = bits [16i, 16i+16) MSB-first, matching the SQL oracle.
    The fingerprint relation feeds three plan sites (bands + both
    verify sides), so it is materialized ONCE via ``localCheckpoint``:
    the 64-column vote aggregation is Catalyst's most expensive
    subtree to analyze/codegen, and re-deriving it per site tripled
    the wall time (measured 19.5s -> 7.1s at sf0.01 on 8 cores).
    """
    sh = track_checkpoint(
        simhash_rel(df, id_col=id_col, text_col=text_col,
                    token_hash=token_hash).localCheckpoint())
    bands_df = sh.select("_id", F.explode(F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned("sh", 48 - i * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("bkey"))
        for i in range(4)])).alias("b")).select("_id", "b.band", "b.bkey")
    cand = (bands_df.toDF("ida", "band", "bkey")
            .join(bands_df.toDF("idb", "band", "bkey"), ["band", "bkey"])
            .filter(F.col("ida") < F.col("idb"))
            .select("ida", "idb").dropDuplicates(["ida", "idb"]))
    j = cand \
        .join(sh.toDF("ida", "sha"), "ida") \
        .join(sh.toDF("idb", "shb"), "idb")
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (j.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("ida").alias("id_a"),
                    F.col("idb").alias("id_b"), "hamming"))


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over the pair graph)
# ---------------------------------------------------------------------------

#: driver union-find gate (round 6): the iterative pointer-jumping loop
#: costs ~4-8 scheduler jobs PER ROUND (AQE materializes every shuffle
#: stage as its own job), which at local[32] dominates small component
#: graphs — percolation's three grid_cluster ladders measured 246 jobs
#: / 21 s with ~2 s of actual compute. Below this many (deduped,
#: symmetric) edge rows the component graph is collected (two 8-byte
#: columns ≤ ~64 MB via Arrow) and solved with an exact union-find; the
#: bounded ``limit(cap+1).count()`` probe is the only extra job at
#: corpus scale, where the distributed loop remains the path — the
#: same cap-gate discipline as the all-pairs bitset regime above.
DRIVER_CC_MAX_EDGES = 4_000_000


def _driver_components(sym: DataFrame,
                       cap: int = DRIVER_CC_MAX_EDGES) -> DataFrame | None:
    """Exact connected components of the (already symmetric, deduped,
    checkpointed) edge relation on the driver — ``None`` unless the
    bounded probe proves the relation under ``cap`` rows.
    Returns ``(node, label)`` with ``label`` = min reachable node id,
    bit-identical to the converged pointer-jumping loop."""
    if cap <= 0:
        return None
    n = sym.limit(cap + 1).count()
    if n > cap:
        return None
    pdf = sym.toPandas()
    codes, uniq = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True),
        use_na_sentinel=False)
    m = len(pdf)
    a, b = codes[:m], codes[m:]
    parent = np.arange(len(uniq), dtype=np.int64)

    def find(i: int) -> int:
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:       # path compression
            parent[i], i = root, parent[i]
        return root

    for i, j in zip(a.tolist(), b.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[rj] = ri
    roots = np.array([find(i) for i in range(len(uniq))], dtype=np.int64)
    # component label = MIN member id (same total order as F.least /
    # F.min over the ids — pandas groupby min matches for int/str ids)
    lab = pd.Series(uniq).groupby(roots).transform("min")
    out = pd.DataFrame({"node": pd.Series(uniq), "label": lab})
    schema = T.StructType([
        T.StructField("node", sym.schema["src"].dataType),
        T.StructField("label", sym.schema["src"].dataType)])
    return sym.sparkSession.createDataFrame(out, schema=schema)


def dedup_components(pairs: DataFrame, *, id_a: str = "id_a",
                     id_b: str = "id_b",
                     max_rounds: int = 50,
                     on_nonconverged: str = "raise",
                     driver_cap: int = DRIVER_CC_MAX_EDGES) -> DataFrame:
    """(node, component): connected components of the near-dup pair
    graph — the dedup endgame (one keeper per component).
    ``component`` = the MIN node id reachable from ``node``.

    Iterative min-label propagation WITH pointer jumping. Plain
    propagation (label(v) <- min over neighbours) needs O(diameter)
    rounds — a silent hazard on chain-shaped components. Each round
    here therefore adds the pointer-jumping shortcut of the classic
    PRAM/MapReduce CC algorithms (Kiveris et al., "Connected
    Components in MapReduce and Beyond"):

      label(v) <- min(label(v), min over neighbours u of label(u))
      label(v) <- label(label(v))          # shortcut: hop to the
                                           # label's own label

    The shortcut roughly doubles the distance information carried per
    round, giving O(log diameter) rounds on paths (property-tested on
    a 200-node chain) while staying a pure equi-join plan. Every round
    ``localCheckpoint(eager=True)`` truncates the lineage (the same
    iterative-loop discipline as kNN — without it the plan doubles
    per round). Converges when no label changes; if ``max_rounds``
    exhausts first the result would be WRONG, so the operator refuses
    to return it silently: ``on_nonconverged='raise'`` (default)
    raises RuntimeError, ``'warn'`` emits a warning and returns the
    partial labels (for exploratory use only).

    Scale: state = one (node, label) row per node; a round = 2 joins
    (edges x labels on node ids; labels x labels for the shortcut) +
    1 groupBy — all hash-partitioned, no driver-side data, no
    broadcast of anything corpus-sized. Dup-cluster diameters are
    tiny (most are cliques from a shared source doc), so rounds ~ 2-4
    in practice.

    **Lifetime contract**: the returned DataFrame is backed by a
    tracked ``localCheckpoint`` (no recomputable lineage). When run
    inside a :func:`cdap_geo_spark.core.lifetime.checkpoint_scope`,
    materialize it fully (count/collect/write) BEFORE the scope
    closes — actions after the scope fail with missing-block errors.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError("on_nonconverged must be 'raise' or 'warn'")
    edges = pairs.select(F.col(id_a).alias("src"),
                         F.col(id_b).alias("dst"))
    # undirected: propagate both ways
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
    sym = sym.dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)
    # cap-gated driver fast path: bounded probe on the checkpointed
    # blocks, exact union-find, identical (node, min-reachable-id)
    # output — the distributed loop below stays the corpus-scale path
    fast = _driver_components(sym, cap=driver_cap)
    if fast is not None:
        unpersist_checkpoint(sym)
        return fast.select(F.col("node"),
                           F.col("label").alias("component"))
    labels = (sym.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    labels_cp = labels          # the checkpointed frame (plan root =
    converged = False           # LogicalRDD) — what lifetime ops need
    for _ in range(max_rounds):
        # neighbour minimum per node (edges carry src->dst; labels of
        # dst flow to src), then min with own label
        nbr = (sym.join(labels.withColumnsRenamed(
                    {"node": "dst", "label": "_dl"}), "dst")
               .groupBy("src").agg(F.min("_dl").alias("_nl")))
        prop = (labels.withColumnRenamed("label", "_old")
                .join(nbr.withColumnRenamed("src", "node"),
                      "node", "left")
                .select("node", "_old",
                        F.least("_old", F.coalesce("_nl", "_old"))
                        .alias("label")))
        # pointer jumping: label(v) <- label(label(v)). Labels are
        # always node ids (mins over reachable sets), so the self-join
        # always matches; left+coalesce guards the root's own row.
        ll = prop.select(F.col("node").alias("label"),
                         F.col("label").alias("_ll"))
        new_full = (prop.join(ll, "label", "left")
                    .select("node", "_old",
                            F.least(F.col("label"),
                                    F.coalesce("_ll", "label"))
                            .alias("label"))
                    .withColumn("_chg", F.col("label") != F.col("_old"))
                    .localCheckpoint(eager=True))
        # convergence check reads the round's OWN checkpointed blocks
        # (the old-label column rides the round), not a fresh join
        # against the previous labels — one fewer shuffle job per round
        changed = new_full.filter("_chg").limit(1).count()
        unpersist_checkpoint(labels_cp)   # superseded round's blocks
        labels_cp = new_full
        labels = new_full.select("node", "label")
        if changed == 0:
            converged = True
            break
    unpersist_checkpoint(sym)      # loop-only relation; release eagerly
    track_checkpoint(labels_cp)    # survives for the caller; scoped release
    if not converged:
        msg = (f"dedup_components did not converge within "
               f"{max_rounds} rounds — labels would be wrong; raise "
               f"max_rounds (rounds needed ~ log2(component diameter))")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_survivors_by_components(df: DataFrame, pairs: DataFrame, *,
                                  id_col: str = "doc_id",
                                  id_a: str = "id_a",
                                  id_b: str = "id_b") -> DataFrame:
    """Keep one doc per near-dup component (the min id) plus every doc
    that appears in no pair — the standard near-dedup survivor set."""
    comp = dedup_components(pairs, id_a=id_a, id_b=id_b)
    losers = comp.filter(F.col("node") != F.col("component")) \
                 .select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def golden_records(docs, pairs, *, id_col: str = "doc_id",
                   quality_col: str = "n_chars"):
    """Survivorship — the entity-resolution endgame: one GOLDEN record
    per duplicate cluster. Clusters come from
    :func:`dedup_components` over the near-dup ``pairs`` relation;
    documents in no pair form their own singleton cluster. The
    survivor rule is deterministic and total: highest ``quality_col``,
    ties to the SMALLEST id — so the keeper set is reproducible under
    any schedule (the property a resumable dedup pipeline needs).
    Returns ``(cluster, golden_id, n_members, max_quality)``.

    Plan: components state is one row per PAIRED node (pointer
    jumping, :func:`dedup_components`); the docs relation left-joins
    that node-dimension assignment (AQE broadcasts it when the dup set
    is small — the common case) and one keyed ``max_by`` aggregation
    with map-side partials picks survivors. The wide payload never
    rides the components iteration. Lineage: consume inside the
    caller's ``checkpoint_scope`` (the dedup_components contract).
    """
    assign = dedup_components(pairs).select(
        F.col("node").alias(id_col), F.col("component"))
    full = (docs.select(F.col(id_col),
                        F.col(quality_col).cast("long").alias("_q"))
            .join(assign, id_col, "left")
            .withColumn("cluster",
                        F.coalesce(F.col("component"), F.col(id_col))))
    win = F.struct(F.col("_q"), (-F.col(id_col)).alias("ni"))
    return (full.groupBy("cluster")
            .agg(F.max_by(F.col(id_col), win).alias("golden_id"),
                 F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.max("_q").alias("max_quality")))

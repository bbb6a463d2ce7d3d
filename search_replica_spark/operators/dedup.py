"""Deduplication family over the ``documents`` table — the training-data
pipeline ops a 100 TB corpus engine needs: exact, MinHash+LSH, n-gram
Jaccard, SimHash, embedding-cosine near-dup.

Scale notes: exact dedup is a hash groupBy (one shuffle on the content
hash). MinHash banding turns all-pairs similarity into an equi-join on
(band_id, band_hash) — the join key is high-cardinality, so the shuffle is
balanced; candidate verification happens only within buckets. All hashes
are md5 (identical hex output in Spark and DuckDB) so the oracle SQL is an
exact twin, not an approximation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from search_replica_spark.operators import load, register

N_HASHES = 8
N_BANDS = 4  # rows-per-band = 2


# Exact dedup: last-wins keeper per content hash (reference analogue: P16
# upsert-by-_id dedup, postgres/table.go:56-63 — ours keys on content).
@register(
    "dedup_exact",
    """SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keeper
       FROM documents GROUP BY md5(text)""",
)
def dedup_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_md5")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper")
    )


def _tok_codes_arrow(text_arr):
    """split(' ') + dictionary-encode one Arrow batch's token stream.

    Returns (lens int64[n_rows], codes int64[n_tokens], uniq list[str]).
    ``pc.split_pattern`` matches Spark's ``F.split(text, ' ')`` exactly,
    empties included; a null text yields a zero-length segment (the doc
    drops out downstream, same as explode of null)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    la = pc.split_pattern(text_arr, " ")
    if isinstance(la, pa.ChunkedArray):
        la = la.combine_chunks()
    off = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(off)
    d = pc.dictionary_encode(la.flatten())
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return lens, codes, d.dictionary.to_pylist()


def _doc_term_pairs(lens, codes, n_uniq):
    """DISTINCT (row, term-code) pairs, sorted by row. Returns (u_doc,
    u_code, starts): starts[i] opens row u_doc[starts[i]]'s segment."""
    doc_pos = np.arange(lens.size, dtype=np.int64).repeat(lens)
    key = doc_pos * np.int64(max(n_uniq, 1)) + codes
    ukey = np.unique(key)
    u_doc = ukey // max(n_uniq, 1)
    u_code = ukey % max(n_uniq, 1)
    starts = np.flatnonzero(np.r_[True, u_doc[1:] != u_doc[:-1]])
    return u_doc, u_code, starts


def _seg_bit_counts(bits: np.ndarray, u_code, starts):
    """Per-row sums of ``bits[u_code]`` (0/1 int8 matrix) over the row
    segments, exactly — two-level ``add.reduceat``: int8 partials over
    ≤127-row sub-segments (no overflow: 0/1 values), int64 outer sums.
    A direct int32 reduceat was measured 10× slower (the casted copy)."""
    n = u_code.size
    seg_len = np.diff(np.r_[starts, n])
    n_sub = (seg_len + 126) // 127
    sub_starts = np.repeat(starts, n_sub) + (
        np.arange(n_sub.sum()) - np.repeat(np.cumsum(n_sub) - n_sub, n_sub)
    ) * 127
    partial = np.add.reduceat(bits[u_code], sub_starts, axis=0).astype(np.int64)
    outer = np.cumsum(np.r_[0, n_sub])[:-1]
    return np.add.reduceat(partial, outer, axis=0), seg_len


def _md5_hex_digits(uniq) -> np.ndarray:
    """(n_uniq, 32) uint8 matrix of md5 hex-digit VALUES per unique term."""
    import hashlib

    dig = np.empty((len(uniq), 16), dtype=np.uint8)
    for i, t in enumerate(uniq):
        dig[i] = np.frombuffer(hashlib.md5(t.encode()).digest(), dtype=np.uint8)
    hexdig = np.empty((len(uniq), 32), dtype=np.uint8)
    hexdig[:, 0::2] = dig >> 4
    hexdig[:, 1::2] = dig & 0x0F
    return hexdig


def _minhash_fn(batches):
    """mapInArrow body: (doc_id, text) → (doc_id, m0..m7) per batch.

    Exactly min(md5(term || '#s')) over the doc's tokens: md5 runs ONCE
    per unique term per salt (hashlib == Spark's md5 — both standard md5
    hex), per-doc mins come from a rank reduceat (S32 hex strings are
    pure ASCII: lexicographic S32 order == hex-string order). Min over
    the token multiset equals min over the set, so the per-doc distinct
    costs nothing extra."""
    import hashlib

    import pyarrow as pa

    for b in batches:
        if b.num_rows == 0:
            continue
        lens, codes, uniq = _tok_codes_arrow(b.column("text"))
        u_doc, u_code, starts = _doc_term_pairs(lens, codes, len(uniq))
        if starts.size == 0:
            continue
        doc_ids = b.column("doc_id").to_numpy(zero_copy_only=False)
        cols = [pa.array(doc_ids[u_doc[starts]], pa.int64())]
        for s in range(N_HASHES):
            suffix = f"#{s}".encode()
            dig = np.empty(len(uniq), dtype="S32")
            for i, t in enumerate(uniq):
                dig[i] = hashlib.md5(t.encode() + suffix).hexdigest()
            ordr = np.argsort(dig, kind="stable")
            rank = np.empty(len(uniq), dtype=np.int64)
            rank[ordr] = np.arange(len(uniq))
            minr = np.minimum.reduceat(rank[u_code], starts)
            cols.append(pa.array(dig[ordr[minr]].astype("U32"), pa.string()))
        yield pa.record_batch(
            cols, names=["doc_id"] + [f"m{s}" for s in range(N_HASHES)]
        )


def _minhash_sig(spark, sf_dir):
    """(doc_id, m0..m7) MinHash signature over the distinct-token set.

    MAP-ONLY (guide §2.4): each doc's tokens live in one ``documents.text``
    row, so the signature is a per-row function — one Arrow pass computes
    it with zero shuffle. The old explode + 8-way-min groupBy paid a full
    shuffle of every token row for a per-row answer."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "text").mapInArrow(
        _minhash_fn,
        schema="doc_id long, " + ", ".join(f"m{s} string" for s in range(N_HASHES)),
    )


_MINHASH_SQL_SIG = (
    "SELECT doc_id, "
    + ", ".join(f"min(md5(term || '#{s}')) AS m{s}" for s in range(8))
    + " FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term"
    "   FROM documents) GROUP BY doc_id"
)


# MinHash signatures themselves (deterministic, md5-based) — direct SQL twin.
@register("dedup_minhash_signatures", _MINHASH_SQL_SIG)
def dedup_minhash_signatures(spark, sf_dir):
    return _minhash_sig(spark, sf_dir)


_LSH_SQL = f"""
WITH sig AS ({_MINHASH_SQL_SIG}),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1 AS band, md5(m2 || m3) AS bh FROM sig UNION ALL
  SELECT doc_id, 2 AS band, md5(m4 || m5) AS bh FROM sig UNION ALL
  SELECT doc_id, 3 AS band, md5(m6 || m7) AS bh FROM sig
),
ok AS (SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) <= 100000)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN ok USING (band, bh)
JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


# buckets larger than this are DEGENERATE near-identical clusters: their s²
# pair expansion is the one way LSH can still blow up at 10^9 rows. They are
# skipped (standard LSH practice — run exact dedup first; the oracle twins
# carry the same bound, which never fires at driver-gate scale).
LSH_MAX_BUCKET = 100_000


def _bucket_pairs(bucketed, key_cols: list[str], id_col: str,
                  max_bucket: int | None = LSH_MAX_BUCKET):
    """Within-bucket candidate pairs WITHOUT a self-join: one groupBy
    collects each bucket's ids, pairs expand from the (small, by LSH
    design) arrays. The expensive upstream (signatures) is computed ONCE —
    a self-join would evaluate the whole subtree twice (measured: 2 scans,
    0 reused exchanges) and shuffle it twice. ``max_bucket`` bounds the s²
    expansion of degenerate buckets (see LSH_MAX_BUCKET).

    The s² expansion is DISTRIBUTED (guide §2.5): two chained explodes
    pipeline into one task per bucket row, so a single large bucket (the
    synthetic corpus has one holding >60% of docs) serializes millions of
    pair emissions on one core. Instead: posexplode one side, round-robin
    repartition those rows across the cluster, and emit each row's j>i
    partners from a slice of the (sorted) id array — every task expands
    ~s/P rows, and sorted ids make the slice itself the `_a < _b` filter.
    The slice is taken BEFORE the repartition, so the exchange carries
    each row's j>i suffix only (Σ(s−i) = s²/2 elements, half the bytes of
    shipping the full array per member — guide §2.3)."""
    buckets = (
        bucketed.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    width = int(bucketed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        buckets.select(F.posexplode("_ids").alias("_i", "_a"), "_ids")
        .select(
            "_a",
            F.slice(F.col("_ids"), F.col("_i") + 2, F.size("_ids")).alias("_rest"),
        )
        .filter(F.size("_rest") > 0)
        .repartition(width)
        .select("_a", F.explode("_rest").alias("_b"))
    )


# MinHash + LSH banding: candidate near-dup pairs = docs sharing any band.
@register("dedup_minhash_lsh", _LSH_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    sig = _minhash_sig(spark, sf_dir)
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.md5(F.concat(F.col(f"m{2 * i}"), F.col(f"m{2 * i + 1}"))).alias("bh"),
        )
        for i in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    return (
        _bucket_pairs(bands, ["band", "bh"], "doc_id")
        .select(F.col("_a").alias("doc_a"), F.col("_b").alias("doc_b"))
        .distinct()
    )


# n-gram (token-set) Jaccard similarity: exact pairwise via shared-token
# equi-join (inverted-index style join, not a cross join).
_JACCARD_SQL = """
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
"""


JACCARD_T = 0.5


@register("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact token-set Jaccard >= t via PPJoin-style PREFIX FILTERING (Xiao
    et al., WWW'08): order each doc's tokens globally by (df asc, term asc)
    and self-join only the first |x| - ceil(t*|x|) + 1 tokens of each doc —
    provably lossless for Jaccard >= t, and hot tokens (high df) sort LAST so
    they rarely enter a prefix: the stopword-blowup of a raw shared-token
    join (10^6-doc token -> 10^12 join rows) cannot happen. Candidate pairs
    are then verified exactly against the full token sets (equi-joins on
    doc ids). The oracle SQL is the plain all-shared-token spec — only the
    Spark plan needs to survive 100 TB."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )  # per-row array_distinct dedups map-side — no distinct() shuffle
    df_tbl = tok.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "term")
    wn = Window.partitionBy("doc_id")
    ranked = (
        tok.join(df_tbl, "term")
        .withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
    )
    prefix = ranked.filter(
        F.col("r") <= F.col("n") - F.ceil(F.col("n") * F.lit(JACCARD_T)) + 1
    ).select("doc_id", "term")

    # candidate pairs through the same distributed bucket expansion as the
    # LSH entries — the raw prefix self-join serialized a hot prefix term's
    # s² pairs into one skewed join partition (measured: 48 s → 13.5 s for
    # the identical 12.5M candidates at sf0.1). No bucket cap: prefix
    # filtering is lossless, so the candidate set must stay exact.
    cand = (
        _bucket_pairs(prefix, ["term"], "doc_id", max_bucket=None)
        .select(F.col("_a").alias("doc_a"), F.col("_b").alias("doc_b"))
        .distinct()
    )

    # exact verification: each doc's distinct-token set as a BITSET over
    # the factorized vocabulary, broadcast to the workers; |intersection|
    # is a vectorized popcount(and) per candidate — no token explosion, no
    # array columns in any shuffle (candidates cross as two longs). Falls
    # back to the exploded-token equi-join verify when the bitset matrix
    # would not be broadcast-sized. The gate's inputs (doc and vocabulary
    # counts) come from one distributed aggregate; the token sets reach the
    # driver only when the gate passes.
    import pandas as pd

    n_docs, n_vocab = tok.agg(F.countDistinct("doc_id"), F.countDistinct("term")).first()
    if n_docs * max(1, -(-n_vocab // 64)) * 8 <= 256 * 1024 * 1024:
        arr_pdf = (
            d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("_arr"))
            .toPandas()
        )
        ids_sorted = np.sort(arr_pdf["doc_id"].to_numpy(np.int64))
        order = np.argsort(arr_pdf["doc_id"].to_numpy(np.int64))
        toks_in_id_order = arr_pdf["_arr"].to_numpy(object)[order]
        flat = [t for arr in toks_in_id_order for t in arr]
        codes, _uniq = pd.factorize(pd.Series(flat, dtype=object), sort=False)
        words = max(1, -(-len(_uniq) // 64))
        bits = np.zeros((ids_sorted.size, words), dtype=np.uint64)
        sizes = np.fromiter((len(a) for a in toks_in_id_order), dtype=np.int64,
                            count=ids_sorted.size)
        row_of = np.repeat(np.arange(ids_sorted.size), sizes)
        np.bitwise_or.at(
            bits, (row_of, codes // 64), np.uint64(1) << (codes % 64).astype(np.uint64)
        )
        bc = cand.sparkSession.sparkContext.broadcast((ids_sorted, bits, sizes))
        pop = np.array([bin(x).count("1") for x in range(256)], dtype=np.int64)

        def verify(batches):
            import pyarrow as pa

            ids, bmat, sz = bc.value
            for bt in batches:
                if bt.num_rows == 0:
                    continue
                da = bt.column("doc_a").to_numpy(zero_copy_only=False)
                db = bt.column("doc_b").to_numpy(zero_copy_only=False)
                ia = np.searchsorted(ids, da)
                ib = np.searchsorted(ids, db)
                inter = bmat[ia] & bmat[ib]
                i = pop[inter.view(np.uint8)].sum(axis=1)
                yield pa.record_batch(
                    [bt.column("doc_a"), bt.column("doc_b"),
                     pa.array(i, pa.int64()),
                     pa.array(sz[ia], pa.int64()), pa.array(sz[ib], pa.int64())],
                    names=["doc_a", "doc_b", "i", "na", "nb"],
                )

        inb = cand.mapInArrow(
            verify, schema="doc_a long, doc_b long, i long, na long, nb long"
        )
        j = inb.withColumn(
            "jac", F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
        ).filter(F.col("jac") >= JACCARD_T)
        return j.select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))

    # large-corpus fallback: verification by exploded-token equi-joins
    ta = tok.select(F.col("doc_id").alias("doc_a"), "term")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "term")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sz = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jac", F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jac") >= JACCARD_T)
    )
    return j.select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))


# SimHash signatures (16-bit, md5-derived bit weights — identical hex math
# in Spark and DuckDB, so the oracle is an exact twin). Near-dup candidates
# are then pairs with small hamming distance on the signature.
_SIMHASH_SQL = """
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
bits AS (
  SELECT doc_id, t.b,
         sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(term), CAST(t.b AS INT) + 1, 1)) - 1) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tok, range(16) t(b) GROUP BY doc_id, t.b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def _simhash16_fn(batches):
    """mapInArrow body: (doc_id, text) → (doc_id, simhash) per batch.

    Per DISTINCT token, bit b's contribution is +1 iff hex digit b of
    md5(term) is odd (its LSB); sum_b = 2·ones_b − n_distinct, exactly
    the old ±1 integer sums. ones_b comes from _seg_bit_counts."""
    import pyarrow as pa

    for b in batches:
        if b.num_rows == 0:
            continue
        lens, codes, uniq = _tok_codes_arrow(b.column("text"))
        u_doc, u_code, starts = _doc_term_pairs(lens, codes, len(uniq))
        if starts.size == 0:
            continue
        hexdig = _md5_hex_digits(uniq)
        bits = (hexdig[:, :16] & 1).astype(np.int8)  # LSB of hex digit b
        ones, seg_len = _seg_bit_counts(bits, u_code, starts)
        pos = 2 * ones - seg_len[:, None] > 0
        w = 1 << np.arange(16, dtype=np.int64)
        sim = (pos * w).sum(axis=1)
        doc_ids = b.column("doc_id").to_numpy(zero_copy_only=False)
        yield pa.record_batch(
            [pa.array(doc_ids[u_doc[starts]], pa.int64()), pa.array(sim, pa.int64())],
            names=["doc_id", "simhash"],
        )


@register("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark, sf_dir):
    # MAP-ONLY (guide §2.4): the signature is a per-row function of text —
    # one Arrow pass, zero shuffle. Replaces the explode + 16-column
    # conditional-sum groupBy (a full shuffle of every distinct token row,
    # plus a 16-sum codegen aggregate); the ±1 integer sums and the bit
    # packing are identical term-for-term (pytest + EXACT harness).
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "text").mapInArrow(
        _simhash16_fn, schema="doc_id long, simhash long"
    )


# 64-bit SimHash (Charikar) at realistic precision, stored as two 32-bit
# halves (sim_hi, sim_lo) so both engines stay in signed BIGINT. Bit b of a
# term's hash = bit (b%4) of md5 hex digit (b//4) — identical md5 hex math
# in Spark and DuckDB, so the oracle is an exact twin.
_SIMHASH64_BITS_SQL = """
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
bits AS (
  SELECT doc_id, CAST(t.b AS INT) AS b,
         sum(CASE WHEN ((strpos('0123456789abcdef',
                                substr(md5(term), CAST(t.b AS INT) // 4 + 1, 1)) - 1)
                        >> (CAST(t.b AS INT) % 4)) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tok, range(64) t(b) GROUP BY doc_id, t.b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 AND b >= 32 THEN CAST(pow(2, b - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_hi,
       CAST(sum(CASE WHEN s > 0 AND b < 32 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_lo
FROM bits GROUP BY doc_id
"""


def _simhash64_fn(batches):
    """mapInArrow body: (doc_id, text) → (doc_id, sim_hi, sim_lo).

    Bit b of a term's hash = bit (b%4) of md5 hex digit (b//4); per-doc
    sum_b = 2·ones_b − n_distinct — identical to the old ±1 integer sums
    term-for-term."""
    import pyarrow as pa

    for b in batches:
        if b.num_rows == 0:
            continue
        lens, codes, uniq = _tok_codes_arrow(b.column("text"))
        u_doc, u_code, starts = _doc_term_pairs(lens, codes, len(uniq))
        if starts.size == 0:
            continue
        hexdig = _md5_hex_digits(uniq)
        bb = np.arange(64)
        bits = ((hexdig[:, bb // 4] >> (bb % 4)) & 1).astype(np.int8)
        ones, seg_len = _seg_bit_counts(bits, u_code, starts)
        pos = 2 * ones - seg_len[:, None] > 0
        w = 1 << np.arange(32, dtype=np.int64)
        hi = (pos[:, 32:] * w).sum(axis=1)
        lo = (pos[:, :32] * w).sum(axis=1)
        doc_ids = b.column("doc_id").to_numpy(zero_copy_only=False)
        yield pa.record_batch(
            [
                pa.array(doc_ids[u_doc[starts]], pa.int64()),
                pa.array(hi, pa.int64()),
                pa.array(lo, pa.int64()),
            ],
            names=["doc_id", "sim_hi", "sim_lo"],
        )


def _simhash64(spark, sf_dir):
    # MAP-ONLY one-Arrow-pass signature (see dedup_simhash) — replaces the
    # explode + 64-column conditional-sum groupBy; zero Exchange.
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "text").mapInArrow(
        _simhash64_fn, schema="doc_id long, sim_hi long, sim_lo long"
    )


@register("dedup_simhash64", _SIMHASH64_BITS_SQL)
def dedup_simhash64(spark, sf_dir):
    return _simhash64(spark, sf_dir)


# SimHash near-dup PAIRS at hamming distance <= 3 — Manku et al. (WWW'07)
# block-permutation scheme, in its TABLE-DUPLICATED form: split the 64-bit
# signature into 6 blocks (11/11/10 bits per 32-bit half); a pair within
# hamming 3 differs in at most 3 blocks, so by pigeonhole it AGREES on some
# 3 of the 6 — candidates come from an EQUI-join on every C(6,3)=20
# 3-block combination (key ≈ 32 bits), then popcount(xor) verification.
# Lossless, and the join key is ~2^32-valued: expected bucket size stays
# O(n/2^32) even at 10^9+ rows, unlike the 4×16-bit variant whose 2^16
# buckets grew quadratic within-bucket work at that scale. Cost: 20 rows
# per doc in the explode — the standard Manku storage/filtering trade.
# (The DuckDB twin is the plain all-pairs spec, which only ever runs at
# oracle scale, so the blocking change is invisible to correctness.)
SIMHASH_HAM_T = 3
_SIMHASH_BLOCK_COMBOS = [
    (i, j, k) for i in range(6) for j in range(i + 1, 6) for k in range(j + 1, 6)
]

_SIMHASH_PAIRS_SQL = f"""
WITH sig AS ({_SIMHASH64_BITS_SQL.strip()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= {SIMHASH_HAM_T}
"""


@register("dedup_simhash_hamming", _SIMHASH_PAIRS_SQL)
def dedup_simhash_hamming(spark, sf_dir):
    sig = _simhash64(spark, sf_dir)
    # 6 blocks over the two 32-bit halves: [hi:11,11,10 | lo:11,11,10] bits
    blk = [
        F.shiftright("sim_hi", 21),
        F.shiftright("sim_hi", 10).bitwiseAND(F.lit(0x7FF)),
        F.col("sim_hi").bitwiseAND(F.lit(0x3FF)),
        F.shiftright("sim_lo", 21),
        F.shiftright("sim_lo", 10).bitwiseAND(F.lit(0x7FF)),
        F.col("sim_lo").bitwiseAND(F.lit(0x3FF)),
    ]
    combo_cols = [
        F.struct(
            F.lit(ci).alias("combo"),
            blk[i].alias("v1"), blk[j].alias("v2"), blk[k].alias("v3"),
        )
        for ci, (i, j, k) in enumerate(_SIMHASH_BLOCK_COMBOS)
    ]
    blocks = sig.select(
        F.struct("doc_id", "sim_hi", "sim_lo").alias("rec"),
        F.explode(F.array(*combo_cols)).alias("bb"),
    ).select(
        "rec",
        F.col("bb.combo").alias("combo"),
        F.col("bb.v1").alias("v1"),
        F.col("bb.v2").alias("v2"),
        F.col("bb.v3").alias("v3"),
    )
    pairs = _bucket_pairs(blocks, ["combo", "v1", "v2", "v3"], "rec")
    ham = F.bit_count(F.col("_a.sim_hi").bitwiseXOR(F.col("_b.sim_hi"))) + F.bit_count(
        F.col("_a.sim_lo").bitwiseXOR(F.col("_b.sim_lo"))
    )
    return (
        pairs.select(
            F.col("_a.doc_id").alias("doc_a"),
            F.col("_b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAM_T)
        .distinct()
    )


# Embedding near-duplicates, PRIMARY (scale path): banded random-hyperplane
# LSH candidate generation + exact cosine within candidates. Candidates come
# from an EQUI-join on (band, code) — balanced keys, ordinary shuffle hash
# join, never a BroadcastNestedLoopJoin — then the pair ids are joined back
# to their vectors (two more equi-joins) for exact verification. At 10^9
# vectors this is the all-pairs-free plan; the capped all-pairs form below
# is kept only as the small-n exact reference. Buckets are recomputed from
# the same seeded hyperplanes in the DuckDB twin, so candidates and scores
# are exactly specified, not approximated.
EMB_N_BANDS = 3
EMB_BAND_BITS = 4
EMB_DUP_THRESHOLD = 0.3
_EMB_CAP = 4096  # all-pairs reference cap (both engines)


EMB_DIM = 64  # the embeddings-table contract (the SQL twins hardcode 64 too)


def _emb_dot(a, b):
    # sequential left-fold, matching the DuckDB twin's list_sum order (a
    # chained 64-term arithmetic rewrite was measured SLOWER — codegen
    # falls over on the tree size; heavy row counts go through the NumPy
    # mapInArrow path below instead, which keeps the same fold order)
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _emb_cosine(ea, eb):
    return _emb_dot(ea, eb) / (F.sqrt(_emb_dot(ea, ea)) * F.sqrt(_emb_dot(eb, eb)))


def _list_mat(col) -> np.ndarray:
    """Arrow list<double> column → (n, EMB_DIM) float64 matrix, zero-copy
    over the flat values buffer."""
    off = col.offsets.to_numpy(zero_copy_only=False)
    flat = col.values.to_numpy(zero_copy_only=False)
    return flat[off[0]: off[-1]].reshape(-1, EMB_DIM)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot with a STRICT sequential left fold over dimensions —
    bit-identical to the zip_with/aggregate fold (and the twin's
    list_sum): vectorized across rows, ordered across dims."""
    out = a[:, 0] * b[:, 0]
    for j in range(1, a.shape[1]):
        out = out + a[:, j] * b[:, j]
    return out


def _cosine_pairs_arrow(pairs):
    """(vec_a, vec_b, ea, eb) → (vec_a, vec_b, sim_raw) via NumPy with the
    fold order above — the exact-cosine verify of the LSH candidates
    without per-row interpreted higher-order functions (guide §4.2)."""

    def fn(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            ma = _list_mat(b.column("ea"))
            mb = _list_mat(b.column("eb"))
            dot = _fold_dot(ma, mb)
            na = _fold_dot(ma, ma)
            nb = _fold_dot(mb, mb)
            sim = dot / (np.sqrt(na) * np.sqrt(nb))
            yield pa.record_batch(
                [b.column("vec_a"), b.column("vec_b"), pa.array(sim, pa.float64())],
                names=["vec_a", "vec_b", "sim_raw"],
            )

    return pairs.select("vec_a", "vec_b", "ea", "eb").mapInArrow(
        fn, schema="vec_a long, vec_b long, sim_raw double"
    )


def _emb_lsh_sql() -> str:
    from search_replica_spark.operators.similarity import _bucket_sql_expr, _hyperplanes

    H = _hyperplanes(64)
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"{_bucket_sql_expr('emb', H, range(b * EMB_BAND_BITS, (b + 1) * EMB_BAND_BITS))} AS code"
        " FROM e"
        for b in range(EMB_N_BANDS)
    )
    cos = (
        "list_sum(list_transform(list_zip(ea.emb, eb.emb), x -> x[1] * x[2]))"
        " / ( sqrt(list_sum(list_transform(ea.emb, x -> x * x)))"
        "   * sqrt(list_sum(list_transform(eb.emb, x -> x * x))) )"
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, round({cos}, 5) AS sim
FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
WHERE {cos} >= {EMB_DUP_THRESHOLD}
"""


@register("dedup_embedding_lsh", _emb_lsh_sql())
def dedup_embedding_lsh(spark, sf_dir):
    from search_replica_spark.operators.similarity import _hyperplanes

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    H = _hyperplanes(EMB_DIM)

    # band codes in NumPy (one mapInArrow pass, _fold_dot keeps the twin's
    # fold order) — the 12 interpreted HOF dots per row were the dominant
    # cost of this entry (measured)
    def band_fn(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            mat = _list_mat(b.column("emb"))
            vid = b.column("vec_id").to_numpy(zero_copy_only=False)
            out_v, out_b, out_c = [], [], []
            for band in range(EMB_N_BANDS):
                code = np.zeros(mat.shape[0], dtype=np.int32)
                for j in range(EMB_BAND_BITS):
                    plane = np.broadcast_to(
                        H[band * EMB_BAND_BITS + j], mat.shape
                    )
                    code |= (_fold_dot(mat, plane) > 0).astype(np.int32) << j
                out_v.append(vid)
                out_b.append(np.full(mat.shape[0], band, dtype=np.int32))
                out_c.append(code)
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_v), pa.int64()),
                    pa.array(np.concatenate(out_b), pa.int32()),
                    pa.array(np.concatenate(out_c), pa.int32()),
                ],
                names=["vec_id", "band", "code"],
            )

    bands = e.select("vec_id", "emb").mapInArrow(
        band_fn, schema="vec_id long, band int, code int"
    )
    cand = (
        _bucket_pairs(bands, ["band", "code"], "vec_id")
        .select(F.col("_a").alias("vec_a"), F.col("_b").alias("vec_b"))
        .distinct()
    )

    # exact-cosine verify via a BROADCAST vector matrix (same pattern as
    # the jaccard bitset verify): candidates cross the final stage as two
    # longs, no re-scan/join of the embeddings table per side (was two
    # joins + an extra embeddings scan). Gated to broadcast-sized corpora;
    # beyond the gate the equi-join verify below is the scale path. The
    # gate counts rows distributively; vectors reach the driver only when
    # it passes.
    if e.count() * EMB_DIM * 8 <= 256 * 1024 * 1024:
        e_pdf = e.select("vec_id", "emb").toPandas()
        ids = e_pdf["vec_id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids_sorted = ids[order]
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in e_pdf["emb"].to_numpy(object)[order]]
        ) if ids_sorted.size else np.zeros((0, EMB_DIM))
        bc = cand.sparkSession.sparkContext.broadcast((ids_sorted, mat))

        def verify(batches):
            import pyarrow as pa

            vids, vmat = bc.value
            for bt in batches:
                if bt.num_rows == 0:
                    continue
                ia = np.searchsorted(vids, bt.column("vec_a").to_numpy(zero_copy_only=False))
                ib = np.searchsorted(vids, bt.column("vec_b").to_numpy(zero_copy_only=False))
                ma, mb = vmat[ia], vmat[ib]
                sim = _fold_dot(ma, mb) / (
                    np.sqrt(_fold_dot(ma, ma)) * np.sqrt(_fold_dot(mb, mb))
                )
                yield pa.record_batch(
                    [bt.column("vec_a"), bt.column("vec_b"), pa.array(sim, pa.float64())],
                    names=["vec_a", "vec_b", "sim_raw"],
                )

        sims = cand.mapInArrow(
            verify, schema="vec_a long, vec_b long, sim_raw double"
        )
    else:
        ea = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
        eb = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
        sims = _cosine_pairs_arrow(cand.join(ea, "vec_a").join(eb, "vec_b"))
    return (
        sims.filter(F.col("sim_raw") >= EMB_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("sim_raw", 5).alias("sim"))
    )


# All-pairs embedding cosine — the SMALL-N EXACT REFERENCE for the LSH entry
# above, explicitly capped at {_EMB_CAP} vectors on BOTH engines: the plan is
# a deliberate O(n²) pairwise join and must never run uncapped at scale
# (use dedup_embedding_lsh there).
_EMB_DUP_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) ),
         5) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < {_EMB_CAP} AND b.vec_id < {_EMB_CAP}
  AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
                              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      / ( sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) ) >= 0.3
"""


@register("dedup_embedding_cosine", _EMB_DUP_SQL)
def dedup_embedding_cosine(spark, sf_dir):
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _EMB_CAP)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb"))
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    # NumPy pair cosine (same fold order — see _cosine_pairs_arrow) instead
    # of the interpreted HOF expression over O(n²) pair rows
    return (
        _cosine_pairs_arrow(pairs)
        .filter(F.col("sim_raw") >= 0.3)
        .select("vec_a", "vec_b", F.round("sim_raw", 5).alias("sim"))
    )


# Connected-component dup clusters: the canonicalization step a training
# pipeline runs AFTER pair generation — near-dup is not transitive, so
# keeping "one doc per pair" under-deletes; the real operation is "one doc
# per connected component of the pair graph". cluster_id = min doc_id
# reachable. Spark side: iterative min-label propagation (one equi-join +
# partial-min aggregate per round; converges in graph-diameter rounds —
# near-dup graphs are dense, so single digits in practice; lineage is cut
# with localCheckpoint so plans stay bounded). Oracle: DuckDB recursive CTE
# computing the identical min-reachable-label fixpoint over the SAME pairs.
_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({_LSH_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, lbl) AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS u, r.lbl FROM reach r JOIN edges e ON e.u = r.u
),
comp AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def connected_components(pairs, a_col: str = "doc_a", b_col: str = "doc_b",
                         max_rounds: int = 100):
    """(node, cluster_id=min reachable node) over an undirected pair graph.

    Round 0 + contraction + propagation (guide §2.3/§2.4: iterate over a
    lightweight proxy instead of re-scanning the full edge set per round):

      1. ONE groupBy over the doubled edge set fuses label init with the
         first propagation round: l0(u) = min(u, min neighbor);
      2. the edge set is contracted through l0 (two equi-joins against the
         tiny label table — AQE broadcasts — plus a distinct): near-dup
         graphs are dense, so the 9.3M-pair sf0.1 graph collapses to a
         few label-level edges;
      3. the frontier min-label loop runs on the CONTRACTED graph only —
         each subsequent round costs O(label edges), not O(pairs);
      4. labels compose back: lbl(u) = comp(l0(u)), coalesced to l0(u)
         for components the contraction already collapsed to a point.

    Equivalence with flat propagation: l0(u) is u or a neighbor, so it
    stays inside u's component; any path maps to a label walk whose every
    step between DISTINCT labels is a contracted edge, so a component's
    label image is connected in the contracted graph and its min-reachable
    fixpoint is the component's min node id — the same unique fixpoint
    (pytest chain test + the EXACT recursive-CTE oracle twin).

    Nodes absent from any pair are absent from the result (callers
    coalesce singletons to themselves)."""
    p = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint()  # pair generation runs ONCE
    edges = p.unionByName(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # every node appears as u in the doubled set, so this is both the node
    # inventory and the first min-label round
    l0 = (
        edges.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select(F.col("u").alias("doc_id"), F.least("u", "_mn").alias("lbl"))
        .localCheckpoint()  # one row per node; three consumers below
    )
    lu = l0.select(F.col("doc_id").alias("u"), F.col("lbl").alias("_lu"))
    lv = l0.select(F.col("doc_id").alias("v"), F.col("lbl").alias("_lv"))
    ce = (
        p.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("_lu") != F.col("_lv"))
        .select(F.col("_lu").alias("u"), F.col("_lv").alias("v"))
        .distinct()
        .localCheckpoint()  # label-level edges: tiny for dense dup graphs
    )
    cedges = ce.unionByName(ce.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = (
        cedges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .localCheckpoint()
    )
    # FRONTIER propagation: after round 1 only nodes whose label changed
    # last round can improve a neighbor, so each round joins the edges
    # against the (rapidly shrinking) changed set instead of every label —
    # same min-label fixpoint, round cost drops with the frontier size.
    delta = labels
    for _i in range(max_rounds):
        # nodes adopting min(own, changed neighbors' labels)
        neigh = (
            cedges.join(delta.withColumnRenamed("doc_id", "u"), "u")
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        new = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl"),
                F.col("lbl").alias("_old"),
            )
            .localCheckpoint()
        )
        # old label rides in the projection — convergence is one filter
        # count on the checkpointed frame, not a second join per round
        delta = new.filter(F.col("lbl") != F.col("_old")).drop("_old")
        changed = delta.count()
        labels = new.drop("_old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"component propagation did not converge in {max_rounds} rounds"
        )
    comp = labels.select(F.col("doc_id").alias("_cl"), F.col("lbl").alias("_cm"))
    return (
        l0.join(comp, l0["lbl"] == comp["_cl"], "left")
        .select("doc_id", F.coalesce("_cm", "lbl").alias("lbl"))
    )


@register("dedup_cluster_components", _COMPONENTS_SQL)
def dedup_cluster_components(spark, sf_dir):
    labels = connected_components(dedup_minhash_lsh(spark, sf_dir))
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("lbl", "doc_id").cast("long").alias("cluster_id")
    )


# Incremental dedup: a NEW ingest batch checked against the EXISTING
# corpus — the form a replication loop actually runs (the all-pairs sweep
# is a backfill job; steady state asks "is this incoming doc a near-dup
# of anything already indexed?"). Batch = doc_id % 10 == 0 here. Shape:
# the corpus bands are computed once (in production: persisted beside the
# index and appended per batch), and the lookup is ONE equi-join on
# (band, band-hash) with the small batch side — AQE broadcasts it, so the
# corpus side never reshuffles. No within-bucket pair expansion at all:
# candidates are (new, existing) pairs only, O(batch × collisions).
_INC_LSH_SQL = f"""
WITH sig AS ({_MINHASH_SQL_SIG}),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1 AS band, md5(m2 || m3) AS bh FROM sig UNION ALL
  SELECT doc_id, 2 AS band, md5(m4 || m5) AS bh FROM sig UNION ALL
  SELECT doc_id, 3 AS band, md5(m6 || m7) AS bh FROM sig
)
SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS dup_of
FROM bands n JOIN bands o ON n.band = o.band AND n.bh = o.bh
WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
"""


@register("dedup_incremental_lsh", _INC_LSH_SQL)
def dedup_incremental_lsh(spark, sf_dir):
    sig = _minhash_sig(spark, sf_dir)
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.md5(F.concat(F.col(f"m{2 * i}"), F.col(f"m{2 * i + 1}"))).alias("bh"),
        )
        for i in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    # split-inside-one-groupBy instead of new⋈old self-join: a DataFrame
    # self-join evaluates the signature subtree TWICE (measured round 2 —
    # see _bucket_pairs); collecting each bucket's new/old ids in one
    # partial agg computes signatures once and shuffles once
    is_new = F.col("doc_id") % 10 == 0
    buckets = (
        bands.groupBy("band", "bh")
        .agg(
            F.collect_list(F.when(is_new, F.col("doc_id"))).alias("new_ids"),
            F.collect_list(F.when(~is_new, F.col("doc_id"))).alias("old_ids"),
        )
        .filter((F.size("new_ids") > 0) & (F.size("old_ids") > 0))
    )
    width = int(bands.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        buckets.select(F.explode("new_ids").alias("new_doc"), "old_ids")
        .repartition(width)  # spread a big bucket's new×old expansion
        .select("new_doc", F.explode("old_ids").alias("dup_of"))
        .distinct()
    )

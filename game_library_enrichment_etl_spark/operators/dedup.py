"""Deduplication operators for web-scale corpora.

Five families, each a first-class operator with a DuckDB-expressible spec:

- exact:        md5 fingerprint of normalized text, keep min-key winner
                (hash groupBy — one shuffle, map-side combinable)
- MinHash+LSH:  word shingles -> k minhashes -> bands -> bucket join ->
                jaccard-verified pairs (the classic shingle/band pipeline)
- SimHash:      32-bit sign-of-weighted-bit-sums sketch + banded hamming
                candidate pairs
- n-gram Jaccard: char n-gram sets, blocked self-join, exact jaccard
- embedding cosine: see operators/ann.py (same kernel)

Scale notes: every family is (blocking-key shuffle + within-block pairs) —
no global cross join anywhere. At 100 TB the band/bucket keys ARE the
partitioning keys. Pathologically hot LSH buckets (boilerplate pages: one
band value shared by millions of docs -> quadratic candidates in one task)
are handled by ``band_cap``: buckets larger than the cap are EXCLUDED from
pair generation and the drop is logged + returned (never silent). Docs in
a dropped bucket still pair through their other bands, and near-exact
boilerplate groups are better caught by exact_dedup first anyway.

Reference precursors: full-row/subset dedup (A4/A5,
/root/reference/src/how_long_to_beat.py:207,373;
/root/reference/src/game_library.py:105) and the blocked fuzzy-match
pipeline shape (/root/reference/src/internet_games_database.py:412-497).

All hashes are the shared 60-bit md5 hash (functions/text.py) so the
DuckDB oracle reproduces every value exactly.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, token_hash, tokens

logger = logging.getLogger(__name__)

# --------------------------------------------------- within-query scratch
# r6 (guide §5, measured): these operators' plans reference their hash-
# heavy intermediates several times — the ngram verify fetches the gram
# arrays twice, the band/chunk candidate generators SELF-join, and
# Catalyst performs no common-subtree reuse across join sides (executed
# plans showed 6 parquet scans / 6 Generates for one ngram query, zero
# ReusedExchange). Persisting the shared SKINNY intermediate computes the
# md5 pipeline once per query instead of 2-6x. Lifecycle: each top-level
# operator call first unpersists the previous call's scratch — a fresh
# invocation therefore always recomputes from its inputs (Spark's
# CacheManager matches by logical plan and would otherwise silently serve
# a PRIOR run's data — exactly the cross-run reuse the bench contract
# forbids). MEMORY_AND_DISK: bounded by corpus-derived column size,
# spills rather than OOMs; at 100 TB the same role is played by writing
# the fingerprint table once and reading it back (guide §8 step 1).
_SCRATCH: list = []


def _drop_scratch() -> None:
    while _SCRATCH:
        try:
            _SCRATCH.pop().unpersist(False)
        except Exception:
            pass


def _scratch_persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _SCRATCH.append(df)
    return df


# ----------------------------------------------------------------- exact
def exact_dedup(
    df: DataFrame, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """One row per distinct normalized text: fingerprint, group size, and
    the kept representative (min key — deterministic winner, the engine's
    analog of the reference's keep-first dedup)."""
    return (
        df.select(F.md5(normalize_text(F.col(text_col))).alias("fingerprint"), F.col(key))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(key).alias("keeper"))
    )


# --------------------------------------------------------------- minhash
def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text."""
    t = tokens(col)
    k = F.size(t) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    return F.array_distinct(sh)


MINHASH_P = 2_147_483_647  # Mersenne prime 2^31 - 1


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine-hash coefficients < P, derived from md5
    so the SQL oracle can embed the identical literals."""
    import hashlib

    out = []
    for i in range(n_hashes):
        a = int.from_bytes(hashlib.md5(f"mh_a{i}".encode()).digest()[:8], "big") % (
            MINHASH_P - 2
        ) + 1
        b = int.from_bytes(hashlib.md5(f"mh_b{i}".encode()).digest()[:8], "big") % MINHASH_P
        out.append((a, b))
    return out


def minhash_from_hashes(h0s: Column, n_hashes: int = 12) -> Column:
    def _affine(a: int, b: int):
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P))

    sigs = [
        F.array_min(F.transform(h0s, _affine(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return F.array(*sigs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    band_cap: int | None = None,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, jaccard-verified.

    Pipeline: signature -> band keys -> explode -> self-join per band
    (the ONLY join; band key is the shuffle key) -> distinct candidate
    pairs -> exact jaccard over distinct shingle sets -> threshold.
    Returns (key_a, key_b, jaccard) with key_a < key_b.

    ``band_cap``: hot-band guard for boilerplate-skewed corpora. A band
    bucket with more than ``band_cap`` members would contribute O(n^2)
    candidate pairs in a single shuffle partition; such buckets are
    excluded from pair generation, and the exclusion is LOGGED (bucket
    count + total member rows dropped) and recorded into ``drop_stats``
    when a dict is passed — no silent truncation. Costs one extra skinny
    aggregation job over (k, band) rows when enabled.
    """
    rows_per_band = n_hashes // bands
    _drop_scratch()
    # parallelize the md5-heavy signature stage even when the input is a
    # single small parquet file (one scan partition otherwise)
    nparts = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(F.col(key).alias("k"), F.col(text_col).alias("t")).repartition(nparts, "k")
    # scratch-persisted: the shingle arrays feed the signature branch AND
    # both verify fetch branches — one tokenize/shingle pass per query
    shingles = _scratch_persist(
        src.select("k", word_shingles(F.col("t"), shingle_n).alias("sh"))
    )
    # projection barrier: the md5 hash array is an aliased non-cheap column,
    # so the 12 affine minima below reuse it instead of re-hashing 12x
    hashed = shingles.select(
        "k",
        F.transform(
            F.col("sh"), lambda s: F.pmod(token_hash(s), F.lit(2**31))
        ).alias("hs"),
    )
    sig = minhash_from_hashes(F.col("hs"), n_hashes)
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(b),
                    *[
                        F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    # SKINNY band join: only (k, band) rows shuffle; the shingle arrays are
    # fetched by key for surviving candidate pairs only (column pruning
    # keeps the md5 minhash work out of the fetch branches).
    # scratch-persisted: banded SELF-joins below (each side would re-run
    # the full md5 signature pipeline — no common-subtree reuse); (k,
    # band) is two small columns
    banded = _scratch_persist(
        hashed.select(F.col("k"), sig.alias("sig")).select(
            "k", F.explode(band_keys).alias("band")
        )
    )
    if band_cap is not None:
        sizes = banded.groupBy("band").agg(F.count(F.lit(1)).alias("_bn"))
        hot = sizes.where(F.col("_bn") > band_cap)
        # one skinny action to surface what the cap drops (never silent)
        hot_rows = hot.agg(
            F.count(F.lit(1)).alias("hot_bands"),
            F.coalesce(F.sum("_bn"), F.lit(0)).alias("rows_in_hot_bands"),
        ).collect()[0]
        stats = {
            "band_cap": band_cap,
            "hot_bands_dropped": int(hot_rows["hot_bands"]),
            "rows_in_dropped_bands": int(hot_rows["rows_in_hot_bands"]),
        }
        if drop_stats is not None:
            drop_stats.update(stats)
        if stats["hot_bands_dropped"]:
            logger.warning(
                "minhash_lsh_pairs: band_cap=%d dropped %d hot band(s) "
                "covering %d (k, band) rows from pair generation",
                band_cap, stats["hot_bands_dropped"], stats["rows_in_dropped_bands"],
            )
        banded = banded.join(F.broadcast(hot.select("band")), "band", "left_anti")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "band")
        .where(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    pairs = (
        cand.join(shingles.select(F.col("k").alias("key_a"), F.col("sh").alias("sh_a")), "key_a")
        .join(shingles.select(F.col("k").alias("key_b"), F.col("sh").alias("sh_b")), "key_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.select("key_a", "key_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


# --------------------------------------------------------------- simhash
def token_hashes(col: Column) -> Column:
    """60-bit md5 hashes of the whitespace tokens (materialize once)."""
    return F.transform(tokens(col), token_hash)


def simhash_from_hashes(th: Column) -> Column:
    def _vote(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bits = []
    for j in range(32):
        vote = F.aggregate(th, F.lit(0).cast("bigint"), _vote(j))
        bits.append(F.when(vote > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs by banded SimHash: split the 32-bit sketch
    into ``n_chunks`` 8-bit chunks; by pigeonhole any pair within
    ``max_hamming`` <= n_chunks-1 shares at least one exact chunk —
    equi-join on (chunk_idx, chunk_val), then verify true hamming."""
    _drop_scratch()
    nparts = df.sparkSession.sparkContext.defaultParallelism
    # scratch-persisted: the chunk candidate generator SELF-joins the
    # sketch frame — without it each side re-runs the md5 token hashing
    # and the 32 interpreted bit-vote folds; (k, sh) is two longs
    base = _scratch_persist(
        df.select(F.col(key).alias("k"), F.col(text_col).alias("t"))
        .repartition(nparts, "k")
        .select("k", token_hashes(F.col("t")).alias("ths"))
        .select("k", simhash_from_hashes(F.col("ths")).alias("sh"))
    )
    width = 32 // n_chunks
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("c"),
                F.shiftright(F.col("sh"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("v"),
            )
            for c in range(n_chunks)
        ]
    )
    e = base.select("k", "sh", F.explode(chunks).alias("ch")).select(
        "k", "sh", F.col("ch.c").alias("c"), F.col("ch.v").alias("v")
    )
    pairs = (
        e.alias("a")
        .join(e.alias("b"), ["c", "v"])
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("key_a", "key_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# -------------------------------------------------------- n-gram jaccard
def char_ngrams(col: Column, n: int = 4) -> Column:
    t = normalize_text(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - n + 1, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(n))))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    n: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact all-pairs char-n-gram jaccard >= threshold via DF-ordered
    PREFIX FILTERING (the PPJoin family, public similarity-join
    literature): order each doc's gram set by ascending global document
    frequency, keep only the first |g| - ceil(t*|g|) + 1 grams as join
    keys — any pair with J >= t provably shares a prefix gram, and rare
    grams make candidate buckets tiny. Exact (no recall loss), global
    (no lang/length blocking needed), and the gram key is the shuffle
    key at scale. Verification runs on hashed (int64) gram arrays.

    r6 physical notes (OPTIMIZATION_r06.md, guide §1.4/§2.3/§2.4):
    - every explode here is ``explode_outer`` + a null post-filter:
      for a plain explode the optimizer infers ``size(g) > 0`` and
      pushes it below the exchange into the SCAN stage — for a
      single-row-group input that stage is one task, so the whole
      md5-hash gram pipeline re-ran serially on one core (measured:
      the explode stage cost 19.7s at sf0.1, 0.2s once the inferred
      filter is gone). Outer generates infer no such filter; the null
      filter above the Generate is exact (token_hash of a non-null
      gram is never null, and a null text yields a null array, whose
      row plain explode would also have dropped);
    - candidates carry the PPJoin POSITIONAL upper bound: with every
      doc's grams sorted by the same global (dfc, gram) order, any
      common gram ordered before the pair's last common prefix gram is
      itself in both prefixes, so inter <= c + min(sz_a - p_a,
      sz_b - p_b) (c = shared prefix grams, p = 1-based position of the
      last one). Pairs whose bound cannot reach the required overlap
      t/(1+t) * (sz_a+sz_b) are dropped BEFORE the verify join —
      lossless, and it cut verified candidates 4.75M -> 533k at sf0.1;
    - union is computed arithmetically (sz_a + sz_b - inter — exact for
      distinct sets) instead of building a second hash set per pair.
    """
    _drop_scratch()
    nparts = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(F.col(key).alias("k"), F.col(text_col).alias("t")).repartition(nparts, "k")
    # scratch-persisted: referenced by the df-ranking branch AND both
    # verify fetch branches — one md5 pass instead of four (see _SCRATCH)
    grams = _scratch_persist(
        src.select("k", F.transform(char_ngrams(F.col("t"), n), token_hash).alias("g"))
    )
    eg = grams.select("k", F.explode_outer("g").alias("gram")).where(
        F.col("gram").isNotNull()
    )
    dfreq = eg.groupBy("gram").agg(F.count(F.lit(1)).alias("dfc"))
    ranked = eg.join(dfreq, "gram")
    # one aggregation emits size + the prefix slice as MATERIALIZED
    # columns (agg result expressions are evaluated in the aggregate
    # operator), so the posexplode below generates from plain attributes
    slist = F.array_sort(F.collect_list(F.struct(F.col("dfc"), F.col("gram"))))
    sz = F.size(slist)
    plen = sz - F.ceil(F.lit(threshold) * sz).cast("int") + 1
    per_doc = ranked.groupBy("k").agg(
        sz.alias("sz"),
        F.slice(
            F.transform(slist, lambda x: x.getField("gram")), F.lit(1), plen
        ).alias("pref"),
    )
    # scratch-persisted: the candidate generator SELF-joins pe, and the
    # planner computes each side's whole upstream (gram dfreq join +
    # collect_list aggregation) independently; the cached frame is skinny
    # (two longs, an int, a 64-bit gram)
    pe = _scratch_persist(
        per_doc.select(
            "k", "sz", F.posexplode_outer("pref").alias("pos", "gram")
        ).where(F.col("gram").isNotNull())
    )
    # candidates: share >=1 prefix gram + exact size-ratio bound, then
    # the aggregate positional filter (provably lossless, see docstring);
    # the tiny epsilon keeps float rounding of t/(1+t) from ever
    # rejecting a borderline true pair
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("sza") + F.col("szb")
    ).cast("double") - F.lit(1e-9)
    cand = (
        pe.alias("a")
        .join(pe.alias("b"), "gram")
        .where(F.col("a.k") < F.col("b.k"))
        .where(
            (F.col("a.sz").cast("double") >= threshold * F.col("b.sz"))
            & (F.col("b.sz").cast("double") >= threshold * F.col("a.sz"))
        )
        .groupBy(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max(F.col("a.pos")).alias("pa"),  # 0-based; p = pos + 1
            F.max(F.col("b.pos")).alias("pb"),
            F.max(F.col("a.sz")).alias("sza"),
            F.max(F.col("b.sz")).alias("szb"),
        )
        .where(
            (
                F.col("c")
                + F.least(
                    F.col("sza") - F.lit(1) - F.col("pa"),
                    F.col("szb") - F.lit(1) - F.col("pb"),
                )
            ).cast("double")
            >= alpha
        )
        .select("key_a", "key_b", "sza", "szb")
    )
    pairs = (
        cand.join(grams.select(F.col("k").alias("key_a"), F.col("g").alias("g_a")), "key_a")
        .join(grams.select(F.col("k").alias("key_b"), F.col("g").alias("g_b")), "key_b")
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = (F.col("sza") + F.col("szb") - inter).cast("double")
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        pairs.select("key_a", "key_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )

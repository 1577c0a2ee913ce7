"""Deduplication operators (SURVEY.md §2.11 — driver-mandated).

Four tiers, all designed to never go O(n²) at 100 TB:

- exact:    hash-groupBy on content (one shuffle, linear).
- near/exact-Jaccard: word-3-gram shingles + PREFIX FILTERING
  (Chaudhuri/PPJoin family): order shingles rarest-first globally,
  index only each doc's prefix (|s| - ⌈τ|s|⌉ + 1 shingles), join on
  prefix shingles, verify candidates exactly. Complete (100% recall),
  so it hash-matches a brute-force oracle while candidate volume
  scales with Σ df(prefix shingle)², not n².
- MinHash LSH: banded signatures over the same shingles — recall < 1
  by design, but the seeded md5-derived hash family makes the whole
  pipeline deterministic and value-oracled (round 3).
- SimHash: 60-bit signature + pigeonhole banding for hamming ≤ k,
  same portable hashing, fully value-oracled (round 3).
- segment-level exact dedup (ext_dedup_segments): corpus-wide
  first-occurrence keep of fixed-width token spans — the
  line/paragraph pass of a pretraining pipeline.

Data note: documents.text is a ~31-word vocabulary soup (probed), so
unigram token sets are near-identical across docs — shingling is what
makes near-dup detection meaningful, exactly as at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from layer_apache_hive_spark.catalog import read_table
from layer_apache_hive_spark.registry import register
from layer_apache_hive_spark.session import TMP_ROOT

_TAU = 0.3  # Jaccard threshold (probed: 25 true pairs at sf0.01)

# (applicationId, sf_dir, kind) -> persisted DataFrame. Shingling via
# a SQL higher-order transform is pathologically slow: Catalyst's
# CollapseProject inlines split(text) into every element_at reference
# inside the lambda, making it O(tokens^2) string splits per doc — and
# the shingle relation is reused up to 5x per dedup query. An
# Arrow-batched mapInPandas + persist makes it cheap and computed once.
# Keyed by applicationId (stable session identity — id() of a GC'd
# SparkSession can be recycled); stale sessions' frames are unpersisted
# on eviction.
_SH_CACHE: dict = {}


def _cache_get(spark: SparkSession, sf_dir: str, kind: str):
    import os

    app = spark.sparkContext.applicationId
    # evict (and unpersist) frames from dead sessions so executor
    # memory is bounded across sessions / scale factors
    for k in [k for k in _SH_CACHE if k[0] != app]:
        try:
            _SH_CACHE.pop(k).unpersist()
        except Exception:
            pass
    # the key carries the corpus identity so a changed
    # documents.parquet invalidates SESSION caches too, not just the
    # disk index (same staleness contract as sink_matview)
    st = os.stat(f"{sf_dir}/documents.parquet")
    key = (app, sf_dir, f"{st.st_mtime_ns}:{st.st_size}", kind)
    return key, _SH_CACHE.get(key)


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): exploded distinct word-3-gram shingles per doc
    (docs with ≥3 tokens only), persisted per scale factor.

    ``sh`` is a PORTABLE 60-bit hash of the shingle string — the top
    15 hex chars of its md5, i.e. exactly
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`` in DuckDB —
    not the string itself: the persist is two int64 columns (~4x
    smaller than strings) and every downstream groupBy/join shuffles
    fixed-width longs. Set semantics are preserved up to a
    ~2^-60-per-pair collision — negligible even at 100 TB shingle
    volumes (same argument as MinHash itself). Portability is what
    lets ext_dedup_minhash/simhash derive their signatures from ``sh``
    and still carry exact cross-engine value oracles.
    """
    import hashlib
    import os

    import pandas as pd

    key, cached = _cache_get(spark, sf_dir, "sh")
    if cached is not None:
        return cached

    idx_dir = _build_dedup_index(spark, sf_dir)
    sh = spark.read.parquet(f"{idx_dir}/shingles").persist()
    _SH_CACHE[key] = sh
    return sh


def _build_dedup_index(spark: SparkSession, sf_dir: str) -> str:
    """Disk-materialized dedup INDEX (same write-once convention as
    the bucketed SMB tables), three relations per corpus snapshot:

    - shingles/    (doc_id, sh)           — the base shingle relation
    - doc_arrays/  (doc_id, hs sorted)    — the verify-side lookup
    - prefix/      (doc_id, sh, rn, sz)   — the PPJoin prefix index
      (global rarest-first ordering + per-doc prefix cut at τ)

    At 100 TB shingling AND prefix indexing are ingest-time artifacts
    of the corpus snapshot — PPJoin systems persist exactly this index
    — so every dedup job after ingest reads them; per-query compute
    (candidate self-join, verify, banding, connected components) still
    runs live. Keyed on source identity + τ; any change invalidates."""
    import hashlib
    import os

    import pandas as pd

    label = os.path.basename(sf_dir.rstrip("/")) or "sf"
    idx_dir = f"{TMP_ROOT}/shingle_index/{label}"
    src_stat = os.stat(f"{sf_dir}/documents.parquet")
    tag = f"v3-md5-60bit-tau{_TAU}:{src_stat.st_mtime_ns}:{src_stat.st_size}"
    meta = f"{idx_dir}/_INDEX_TAG"
    fresh = (
        os.path.exists(meta)
        and os.path.exists(f"{idx_dir}/shingles/_SUCCESS")
        and os.path.exists(f"{idx_dir}/doc_arrays/_SUCCESS")
        and os.path.exists(f"{idx_dir}/prefix/_SUCCESS")
        and open(meta).read() == tag
    )
    if fresh:
        return idx_dir

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids, shs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                if len(toks) < 3:
                    continue
                for s in dict.fromkeys(
                    " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                ):
                    ids.append(doc_id)
                    shs.append(int(md5(s.encode()).hexdigest()[:15], 16))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "sh": pd.array(shs, dtype="int64"),
                }
            )

    d.mapInPandas(gen, schema="doc_id long, sh long").write.mode(
        "overwrite"
    ).parquet(f"{idx_dir}/shingles")

    sh = spark.read.parquet(f"{idx_dir}/shingles")
    (
        sh.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("sh")).alias("hs"))
        .write.mode("overwrite")
        .parquet(f"{idx_dir}/doc_arrays")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, "sh")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("sh").asc()
                )
            ),
        )
        .join(sizes, "doc_id")
    )
    (
        ranked.filter(
            F.col("rn") <= F.col("sz") - F.ceil(F.lit(_TAU) * F.col("sz")) + 1
        )
        .select("doc_id", "sh", "rn", "sz")
        .write.mode("overwrite")
        .parquet(f"{idx_dir}/prefix")
    )
    with open(meta, "w") as fh:
        fh.write(tag)
    return idx_dir


def _doc_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs): each doc's sorted int64 shingle-hash array — the
    verify-side lookup relation, read from the disk index (built at
    ingest alongside the shingle relation) and persisted per sf."""
    key, cached = _cache_get(spark, sf_dir, "docs")
    if cached is not None:
        return cached
    idx_dir = _build_dedup_index(spark, sf_dir)
    docs = spark.read.parquet(f"{idx_dir}/doc_arrays").persist()
    _SH_CACHE[key] = docs
    return docs


# Hash-count ceiling for the python-broadcast verify fast path:
# 32M int64s ~ 256 MB of payload per executor, comfortably inside a
# worker; beyond it the distributed join path takes over. sf0.1 is
# ~1M hashes; 100 TB corpora land far past the switch.
_BROADCAST_MAX_HASHES = 32_000_000

# Edge-count ceiling for the driver union-find fast path in
# ext_dedup_clusters: 5M (u,v) int pairs ~ 80 MB on the driver.
# Past it, the alternating large-star/small-star loop runs instead.
_DRIVER_UF_MAX_EDGES = 5_000_000


def _sh_count(spark: SparkSession, sf_dir: str) -> int:
    """Row count of the persisted shingle relation (cached: counting a
    persisted int64 frame is one cheap job, paid once per sf)."""
    key, cached = _cache_get(spark, sf_dir, "nsh")
    if cached is None:
        cached = _shingled(spark, sf_dir).count()
        _SH_CACHE[key] = cached
    return cached


def _verify_jaccard(cand: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard for candidate pairs, linear in candidates.

    Two physical strategies behind one semantic, chosen by the
    MEASURED size of the persisted shingle relation (not a guess):

    - small corpus (fits _BROADCAST_MAX_HASHES): ship the
      doc->sorted-hash-array map as a python broadcast; the Arrow
      transfer into the verify stage is then just the skinny
      (doc_a, doc_b) pairs. ~3x faster here — duplicating both full
      arrays per pair through Arrow dominates otherwise.
    - large corpus (any real cluster scale): two equi-joins attach
      each side's hash array to the pair table — plain shuffle joins
      on doc_id, no driver-side state at all — then the same numpy
      intersect runs per joined row.

    Hash-array intersection counts equal string-set intersection
    counts up to a ~2^-64-per-pair collision, while the per-pair work
    is a sorted-int64 intersect. A JVM array_intersect on string
    arrays was measured ~20x slower (per-pair hash-set builds).
    """
    import numpy as np
    import pandas as pd

    # repartition the skinny pair table first: AQE coalesces the
    # candidate shuffle to ~1 partition (a few MB), which would
    # serialize the python-side verify.
    ncores = cand.sparkSession.sparkContext.defaultParallelism
    out_schema = "doc_a long, doc_b long, shared_shingles long, jaccard double"

    def _result(pairs, shared, sz_a, sz_b):
        return pd.DataFrame(
            {
                "doc_a": pairs["doc_a"].to_numpy(),
                "doc_b": pairs["doc_b"].to_numpy(),
                "shared_shingles": shared,
                "jaccard": shared / (sz_a + sz_b - shared),
            }
        )

    if _sh_count(spark, sf_dir) <= _BROADCAST_MAX_HASHES:
        # build the doc->hashes map straight off the persisted shingle
        # frame via Arrow (toPandas) + a driver-side numpy group-by:
        # ~4x cheaper than materializing the grouped-array relation
        # (groupBy + sort_array + collect of array rows) just to
        # re-explode it into a dict. Built ONCE per (session, corpus)
        # and cached — it is an ingest artifact like the disk index,
        # and rebuilding+rebroadcasting it per verify call was the
        # round-4 stress finding (each caller paid the full Arrow
        # transfer + dict build + broadcast ship again).
        bkey, bv = _cache_get(spark, sf_dir, "bcast")
        if bv is None:
            pdf = _shingled(spark, sf_dir).toPandas()
            order = np.lexsort(
                (pdf["sh"].to_numpy(), pdf["doc_id"].to_numpy())
            )
            ids = pdf["doc_id"].to_numpy()[order]
            hs = pdf["sh"].to_numpy()[order]
            bounds = np.flatnonzero(np.diff(ids)) + 1
            # empty corpus → no docs (the zip below would index ids[0])
            arrs = (
                {}
                if len(ids) == 0
                else {
                    int(ids[s]): hs[s:e]
                    for s, e in zip(
                        np.concatenate(([0], bounds)),
                        np.concatenate((bounds, [len(ids)])),
                    )
                }
            )
            bv = spark.sparkContext.broadcast(arrs)
            _SH_CACHE[bkey] = bv

        def intersect_bc(batches):
            d = bv.value
            for pdf in batches:
                n = len(pdf)
                shared = np.empty(n, dtype=np.int64)
                sz_a = np.empty(n, dtype=np.int64)
                sz_b = np.empty(n, dtype=np.int64)
                for k, (da, db) in enumerate(zip(pdf["doc_a"], pdf["doc_b"])):
                    ha, hb = d[da], d[db]
                    sz_a[k] = ha.size
                    sz_b[k] = hb.size
                    # pre-sorted by sort_array, values distinct
                    shared[k] = np.intersect1d(ha, hb, assume_unique=True).size
                yield _result(pdf, shared, sz_a, sz_b)

        return cand.repartition(ncores).mapInPandas(intersect_bc, schema=out_schema)

    docs = _doc_arrays(spark, sf_dir)
    j = (
        cand.repartition(ncores)
        .join(
            docs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
            "doc_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
            "doc_b",
        )
    )

    def intersect_join(batches):
        for pdf in batches:
            n = len(pdf)
            shared = np.empty(n, dtype=np.int64)
            sz_a = np.empty(n, dtype=np.int64)
            sz_b = np.empty(n, dtype=np.int64)
            for k, (ha, hb) in enumerate(zip(pdf["hs_a"], pdf["hs_b"])):
                ha = np.asarray(ha, dtype=np.int64)
                hb = np.asarray(hb, dtype=np.int64)
                sz_a[k] = ha.size
                sz_b[k] = hb.size
                shared[k] = np.intersect1d(ha, hb, assume_unique=True).size
            yield _result(pdf, shared, sz_a, sz_b)

    return j.mapInPandas(intersect_join, schema=out_schema)


@register(
    "ext_dedup_exact",
    oracle="""
SELECT text, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
HAVING COUNT(*) >= 1
""",
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: groupBy(content) → keeper + multiplicity.

    One shuffle on the content hash; at 100 TB group on md5(text)
    instead of raw text to shrink shuffle rows (same plan shape).
    """
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# Shared oracle prologue: per-doc distinct word-3-gram shingle lists
# (d) and their exploded form (ex) — the DuckDB twin of _shingled.
_SHINGLE_CTES = """d AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(sp) - 1),
           i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
  WHERE len(sp) >= 3
), ex AS MATERIALIZED (
  SELECT doc_id, unnest(s) AS sh FROM d
)"""

# Exact ground truth via an inverted-index join (explode shingles,
# count co-occurrences per pair, attach set sizes): equivalent to the
# all-pairs list_intersect form — a pair with zero shared shingles
# can't reach any τ > 0 — but ~15x faster in DuckDB, which keeps the
# driver's per-entry correctness budget small.
_NEAR_ORACLE = f"""
WITH {_SHINGLE_CTES}, co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sized AS (
  SELECT co.doc_a, co.doc_b, co.i, len(da.s) AS la, len(db.s) AS lb
  FROM co JOIN d da ON da.doc_id = co.doc_a JOIN d db ON db.doc_id = co.doc_b
)
SELECT doc_a,
       doc_b,
       i AS shared_shingles,
       i::DOUBLE / (la + lb - i) AS jaccard
FROM sized
WHERE i::DOUBLE / (la + lb - i) >= {_TAU}
"""


@register("ext_dedup_near", oracle=_NEAR_ORACLE)
def ext_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (shingle Jaccard ≥ τ) via prefix filtering.

    Pipeline (all shuffles on bounded keys):
      1. explode distinct shingles               → (doc, shingle)
      2. global shingle document-frequency       → canonical order
      3. per-doc prefix (|s| - ⌈τ|s|⌉ + 1 rarest shingles)
      4. candidates = prefix-shingle self-join (a < b), pruned by the
         PPJoin length filter (τ·sz_a ≤ sz_b) and positional filter
         (1 + min(sz-pos) ≥ ⌈τ/(1+τ)·(sz_a+sz_b)⌉) — both lossless
      5. exact overlap count for candidates only → Jaccard ≥ τ
    Complete by the prefix-filter theorem, so it value-matches the
    brute-force O(n²) oracle — while the Spark plan never materializes
    all pairs. At 100 TB step 4's fan-out is bounded by prefix df²;
    skew-heavy shingles are AQE-split (session.py).
    """
    key, cached = _cache_get(spark, sf_dir, "pairs")
    if cached is not None:
        return cached

    # the prefix relation (global rarest-first ordering + per-doc
    # prefix cut) comes from the disk index — it is the PPJoin
    # ingest-time artifact; persist because the self-join below
    # consumes it twice
    idx_dir = _build_dedup_index(spark, sf_dir)
    prefix = spark.read.parquet(f"{idx_dir}/prefix").persist()

    # positional upper bound on overlap given a prefix match at
    # (rn_a, rn_b); valid for each pair's earliest match, which is the
    # one that must survive for completeness (PPJoin).
    ubound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    min_overlap = F.ceil(F.lit(_TAU / (1.0 + _TAU)) * (F.col("a.sz") + F.col("b.sz")))
    # shuffle_hash hint: pin the join strategy — AQE otherwise flaps
    # between broadcasting the 185k-row array-bearing side (slow,
    # observed 3-5x regressions) and SMJ, run to run
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b").hint("shuffle_hash"), "sh")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") >= _TAU * F.col("a.sz"))
            & (F.col("a.sz") >= _TAU * F.col("b.sz"))
            & (ubound >= min_overlap)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    verified = _verify_jaccard(cand, spark, sf_dir)
    res = verified.filter(F.col("jaccard") >= _TAU).select(
        "doc_a", "doc_b", "shared_shingles", "jaccard"
    )
    # The verified pair set is consumed by ext_dedup_clusters too (and
    # is tiny relative to the corpus — it's the output of a dedup
    # filter). Materialize once per (session, sf) and share: the full
    # prefix-filter + verify DAG is the expensive part, the result is
    # hundreds of rows per 5k docs.
    res = res.localCheckpoint()
    _SH_CACHE[key] = res
    return res


# Seeded universal-hash family for MinHash: h_i(x) = (a_i·x + c_i)
# mod p over the 31-bit reduction of the portable shingle hash. The
# constants are fixed at import from a pinned RNG seed, so signatures
# are deterministic AND the oracle SQL below (built from the same
# constants) computes bit-identical values in DuckDB.
_MINHASH_N, _MINHASH_BANDS = 16, 4
_MERSENNE_P = 2147483647  # 2^31 - 1
_B31 = 2147483648  # 2^31

def _minhash_seeds() -> list:
    import random

    rng = random.Random(20260814)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(_MINHASH_N)
    ]


_MINHASH_SEEDS = _minhash_seeds()

_MINHASH_ORACLE = f"""
WITH {_SHINGLE_CTES}, base AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % {_B31} AS b31
  FROM ex
), seeds(i, a, c) AS (
  VALUES {', '.join(f'({i}, {a}, {c})' for i, (a, c) in enumerate(_MINHASH_SEEDS))}
), mins AS (
  SELECT doc_id, i, MIN((a * b31 + c) % {_MERSENNE_P}) AS h
  FROM base CROSS JOIN seeds GROUP BY doc_id, i
), bandkeys AS (
  SELECT doc_id,
         (i // {_MINHASH_N // _MINHASH_BANDS})::VARCHAR || '-' ||
           string_agg(h::VARCHAR, '-' ORDER BY i) AS band_key
  FROM mins GROUP BY doc_id, i // {_MINHASH_N // _MINHASH_BANDS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandkeys a JOIN bandkeys b USING (band_key)
  WHERE a.doc_id < b.doc_id
), co AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_a
  JOIN ex eb ON eb.doc_id = c.doc_b AND ea.sh = eb.sh
  GROUP BY 1, 2
), sized AS (
  SELECT co.doc_a, co.doc_b, co.i, len(da.s) AS la, len(db.s) AS lb
  FROM co JOIN d da ON da.doc_id = co.doc_a JOIN d db ON db.doc_id = co.doc_b
)
SELECT doc_a, doc_b, i::DOUBLE / (la + lb - i) AS jaccard
FROM sized
WHERE i::DOUBLE / (la + lb - i) >= {_TAU}
"""


@register("ext_dedup_minhash", oracle=_MINHASH_ORACLE)
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup: shingle → 16 minhashes → 4 bands
    of 4 → band-key self-join → exact Jaccard verify.

    This is the 100 TB path — candidate volume is driven by band
    collisions, independent of corpus² — while ext_dedup_near is the
    exact (full-recall) gate. Banding recall stays probabilistic in
    design, but the hash family is seeded and portable (md5-derived
    base, (a·x+c) mod 2^31-1 mixing), so the ENTIRE pipeline —
    signatures, band keys, candidate set, verified Jaccard — is
    deterministic and value-checked against the DuckDB twin above.

    The verified pair set is cached per (session, corpus) like
    ext_dedup_near's — ext_dedup_recall_eval consumes both, and the
    result is dedup-filter-sized (tiny) while the DAG is the
    expensive part (round-4 stress finding: the eval query paid the
    full banded pipeline again on every call).
    """
    key, cached = _cache_get(spark, sf_dir, "mh_pairs")
    if cached is not None:
        return cached
    rows_per_band = _MINHASH_N // _MINHASH_BANDS

    sh = _shingled(spark, sf_dir)

    minhashes = sh.withColumn("b31", F.col("sh") % F.lit(_B31)).groupBy(
        "doc_id"
    ).agg(
        *[
            F.min((F.lit(a) * F.col("b31") + F.lit(c)) % F.lit(_MERSENNE_P)).alias(
                f"h{i}"
            )
            for i, (a, c) in enumerate(_MINHASH_SEEDS)
        ]
    )
    band_cols = [
        F.concat_ws(
            "-",
            F.lit(str(b)),
            *[
                F.col(f"h{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        ).alias(f"band{b}")
        for b in range(_MINHASH_BANDS)
    ]
    banded = minhashes.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band_key")
    )
    # feeds BOTH sides of the band self-join: checkpoint so the
    # 60-way min-hash aggregation over the shingle relation runs
    # once, not per join side (r13; guide §5)
    banded = banded.localCheckpoint(eager=False)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = _verify_jaccard(cand, spark, sf_dir)
    res = (
        verified.filter(F.col("jaccard") >= _TAU)
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint()
    )
    _SH_CACHE[key] = res
    return res


_SIMHASH_BITS, _SIMHASH_BLOCKS = 60, 4
_SIMHASH_BLOCK_BITS = _SIMHASH_BITS // _SIMHASH_BLOCKS  # 15
_SIMHASH_BLOCK_MASK = (1 << _SIMHASH_BLOCK_BITS) - 1  # 32767

_SIMHASH_ORACLE = f"""
WITH {_SHINGLE_CTES}, base AS (
  SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
  FROM ex
), votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM base CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS b) bits
  GROUP BY doc_id, b
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
), blocks AS (
  SELECT doc_id, simhash, bn,
         (simhash >> ({_SIMHASH_BLOCK_BITS} * bn)) & {_SIMHASH_BLOCK_MASK} AS bv
  FROM sig CROSS JOIN (SELECT unnest(range({_SIMHASH_BLOCKS})) AS bn) bs
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM blocks a
  JOIN blocks b ON a.bn = b.bn AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming_dist
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@register("ext_dedup_simhash", oracle=_SIMHASH_ORACLE)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit signature; pairs at hamming ≤ 3 found
    by pigeonhole banding (4×15-bit blocks: ≤3 differing bits ⇒ at
    least one block identical — complete for the hamming radius).

    Signature = sign-aggregate of per-feature hash bits, the classic
    Charikar construction, over the PORTABLE 60-bit shingle hash from
    _shingled — so signatures, candidate blocks and hamming distances
    are engine-independent and value-checked against the DuckDB twin.
    """
    sh = _shingled(spark, sf_dir)
    h = sh.select("doc_id", F.col("sh").alias("h"))
    # Per-bit vote: +1 if bit set else -1; signature bit = vote > 0,
    # i.e. 2·popcount_b > n. The popcounts are PACKED three to a long
    # (21-bit fields; a doc would need >2M distinct shingles to
    # overflow a field) so the groupBy carries 20 aggregate buffers
    # instead of 60 — whole-stage codegen compiles ~2x faster and the
    # aggregate runs hotter, measured 7.3s -> 3.9s session-cold at
    # sf0.1 with bit-identical output.
    packed = h.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.expr(
                    f"((h >> {3 * j}) & 1)"
                    f" | (((h >> {3 * j + 1}) & 1) << 21)"
                    f" | (((h >> {3 * j + 2}) & 1) << 42)"
                )
            ).alias(f"s{j}")
            for j in range(_SIMHASH_BITS // 3)
        ],
    )
    sig = packed.select(
        "doc_id",
        sum(
            [
                F.when(
                    2 * F.expr(f"(s{i // 3} >> {21 * (i % 3)}) & 2097151")
                    > F.col("n"),
                    F.shiftleft(F.lit(1).cast("long"), i),
                ).otherwise(F.lit(0).cast("long"))
                for i in range(_SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    # one row per doc; feeds BOTH sides of the block self-join below —
    # checkpoint so the shingle scan + 20-buffer packed aggregation
    # runs once, not per join side (r13; guide §5)
    sig = sig.localCheckpoint(eager=False)
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"(simhash >> {_SIMHASH_BLOCK_BITS * b})"
                        f" & {_SIMHASH_BLOCK_MASK}"
                    )
                    for b in range(_SIMHASH_BLOCKS)
                ]
            )
        ).alias("block_no", "block_val"),
    )
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), ["block_no", "block_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(hamming <= 3).select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming_dist")
    )


def _cc_large_small_star(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds regardless of component diameter, which is what
    survives a 100 TB graph (a path-shaped component would need
    diameter rounds under plain label propagation).

    Input: undirected edge list as (u, v) pairs (either orientation,
    self-loops/dups tolerated). Output: (id, lbl) with lbl = the
    component's minimum node id. Each round is two bounded-key
    shuffles (a window min per star op); localCheckpoint truncates
    lineage; convergence is detected by an order-insensitive edge-set
    signature (count + sum of pair hashes), one tiny job per round.
    """
    from pyspark.sql import Window

    def large_star(e: DataFrame) -> DataFrame:
        # neighborhoods over both orientations; attach every neighbor
        # strictly larger than u to m = min(N(u) + {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        return (
            sym.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct each edge large->small; attach u and all its smaller
        # neighbors to m = min of those neighbors
        d = (
            e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        withm = d.withColumn("m", F.min("v").over(Window.partitionBy("u")))
        return (
            withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(withm.select("u", "m"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def signature(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        return (row["n"], row["h"])

    cur = edges.select(F.col("u"), F.col("v")).localCheckpoint()
    sig = None
    for _ in range(max_rounds):
        cur = small_star(large_star(cur)).localCheckpoint()
        new_sig = signature(cur)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected components did not converge in {max_rounds} rounds")

    # fixpoint is a forest of stars pointing at component minima:
    # every child edge (u -> root), plus each root labeling itself
    return (
        cur.select(F.col("u").alias("id"), F.col("v").alias("lbl"))
        .union(cur.select(F.col("v").alias("id"), F.col("v").alias("lbl")))
        .groupBy("id")
        .agg(F.min("lbl").alias("lbl"))
    )


@register(
    "ext_dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_NEAR_ORACLE}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, MIN(lbl) AS cluster_id
FROM reach GROUP BY id
""",
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the
    dedup-CLUSTER step (keep one doc per component) that follows pair
    finding in a real pipeline. cluster_id = min doc_id reachable.

    Driver union-find when the MEASURED edge count fits the driver
    (_DRIVER_UF_MAX_EDGES; a near-dup pair graph is the output of a
    dedup filter, typically tiny vs the corpus); otherwise alternating
    large-star/small-star rounds (_cc_large_small_star): O(log n)
    rounds independent of component diameter, each round two
    bounded-key shuffles — the 100 TB shape (plain min-label
    propagation needs diameter rounds, which a single chain-shaped
    component makes unbounded).

    Oracle: DuckDB recursive CTE computing min reachable label.
    """
    # ext_dedup_near's result is checkpoint-cached per (session, sf) —
    # the pair graph materializes once for the whole dedup family
    pairs = ext_dedup_near(spark, sf_dir).select("doc_a", "doc_b")

    # Two physical strategies behind one semantic, chosen by the
    # MEASURED edge count (the _verify_jaccard pattern): a dedup pair
    # graph is the OUTPUT of a near-dup filter, typically orders of
    # magnitude smaller than the corpus, so even a 100 TB corpus often
    # yields a driver-sized edge set.
    n_edges = pairs.count()
    if n_edges <= _DRIVER_UF_MAX_EDGES:
        # driver union-find: exact same labels (min reachable id),
        # zero Spark rounds. ~80 MB of driver memory at the switch
        # point vs ~10 driver-coordinated jobs for the star loop.
        parent: dict = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in pairs.collect():
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:  # union by min id keeps labels canonical
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        import pandas as pd

        # Arrow path (pandas input) skips the py4j row-pickling
        # machinery whose first use costs ~2s in a fresh session
        labels_pdf = pd.DataFrame(
            {"doc_id": list(parent), "cluster_id": [find(x) for x in parent]},
            dtype="int64",
        )
        # explicit schema: createDataFrame cannot infer from an empty
        # pandas frame (no-duplicates corpus → empty pair graph)
        return spark.createDataFrame(labels_pdf, "doc_id long, cluster_id long")

    # big-graph path: size the per-round shuffles to the graph, not
    # the corpus (observed 6x per-round win locally; the same
    # ~128MB/partition sizing rule applies at 100 TB edge volumes)
    n_parts = max(4, min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                         n_edges // 50_000 + 4))
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        labels = _cc_large_small_star(pairs.toDF("u", "v"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))


_SEG_TOKENS = 20  # fixed segmentation width (tokens per segment)

_SEG_DEDUP_ORACLE = f"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), segs AS (
  SELECT doc_id, i AS seg_no,
         array_to_string(w[i * {_SEG_TOKENS} + 1 : i * {_SEG_TOKENS} + {_SEG_TOKENS}], ' ') AS seg
  FROM w, LATERAL (
    SELECT unnest(range(0,
      CAST(CEIL(len(w) / {_SEG_TOKENS}.0) AS BIGINT))) AS i
  )
), ranked AS (
  SELECT doc_id, seg_no,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
  FROM segs
)
SELECT doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS keep_ratio
FROM ranked
GROUP BY doc_id
"""


@register("ext_dedup_segments", oracle=_SEG_DEDUP_ORACLE)
def ext_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup — the line/paragraph-dedup pass of a
    pretraining pipeline (CCNet-style): repeated spans are dropped
    CORPUS-WIDE, keeping only the first occurrence in (doc_id, seg_no)
    order, and each document reports how much of it survived. The
    fixture text has no natural paragraph marks, so segmentation is
    deterministic fixed-width (20 tokens) — the pipeline shape is
    identical with split('\\n\\n') segments.

    Plan: token arrays → fixed-width segments via transform+slice
    (split textually repeated, but SubExprEvaluationRuntime caches
    the common subexpression per row — an explicit hoist measured
    neutral in an r13 A/B and was not kept), one window shuffle
    partitioned BY SEGMENT CONTENT
    (first-occurrence rank), one groupBy on doc_id. At 100 TB the
    segment-content shuffle is the dedup shuffle — key it on a
    content hash, AQE splits the head of the zipf curve (boilerplate
    segments are exactly the hot keys this pass exists to remove).
    """
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    sp = "split(text, ' ')"
    segs_col = F.expr(
        f"transform(sequence(0, CAST(CEIL(size({sp}) / {_SEG_TOKENS}.0) AS INT) - 1),"
        f" i -> concat_ws(' ', slice({sp}, i * {_SEG_TOKENS} + 1, {_SEG_TOKENS})))"
    )
    segs = d.select(
        "doc_id", F.posexplode(segs_col).alias("seg_no", "seg")
    )
    rn = F.row_number().over(
        Window.partitionBy("seg").orderBy("doc_id", "seg_no")
    )
    ranked = segs.select("doc_id", "seg_no", rn.alias("rn"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        (
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("keep_ratio"),
    )



_INCR_ORACLE = f"""
WITH {_SHINGLE_CTES},
sz AS (SELECT doc_id, len(s) AS n FROM d),
inc AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 10 >= 8
),
snap_h AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8
),
co_snap AS (
  SELECT b.doc_id AS inc_doc, a.doc_id AS snap_doc, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.sh = b.sh
  WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
  GROUP BY 1, 2
),
near_snap AS (
  SELECT DISTINCT c.inc_doc AS doc_id
  FROM co_snap c
  JOIN sz sa ON sa.doc_id = c.snap_doc
  JOIN sz sb ON sb.doc_id = c.inc_doc
  WHERE c.i::DOUBLE / (sa.n + sb.n - c.i) >= {_TAU}
),
co_batch AS (
  SELECT b.doc_id AS inc_doc, a.doc_id AS prior_doc, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 >= 8
  GROUP BY 1, 2
),
near_batch AS (
  SELECT DISTINCT c.inc_doc AS doc_id
  FROM co_batch c
  JOIN sz sa ON sa.doc_id = c.prior_doc
  JOIN sz sb ON sb.doc_id = c.inc_doc
  WHERE c.i::DOUBLE / (sa.n + sb.n - c.i) >= {_TAU}
),
exact_batch AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM inc
  ) WHERE rn > 1
)
SELECT i.doc_id, i.source,
       CASE WHEN i.h IN (SELECT h FROM snap_h)
              OR i.doc_id IN (SELECT doc_id FROM near_snap) THEN 'dup_snapshot'
            WHEN i.doc_id IN (SELECT doc_id FROM exact_batch)
              OR i.doc_id IN (SELECT doc_id FROM near_batch) THEN 'dup_batch'
            ELSE 'new' END AS verdict
FROM inc i
"""


@register("ext_dedup_incremental", oracle=_INCR_ORACLE)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a small incoming batch (the daily crawl)
    deduplicated against the huge existing corpus SNAPSHOT and against
    itself — the steady-state shape of a production dedup pipeline
    (the one-shot corpus-wide pass runs once; this runs every ingest).
    Fixture split: doc_id % 10 < 8 is the snapshot, the rest incoming.

    Two tiers, combined: exact content hash (catches short docs with
    no shingles) and shingle-Jaccard ≥ τ (the same τ as the dedup
    family). Verdict per incoming doc: ``dup_snapshot`` (duplicates
    corpus content), ``dup_batch`` (duplicates an earlier — lower
    doc_id — incoming doc), else ``new``.

    100 TB plan — the snapshot is the big side, so join DIRECTION is
    everything; nothing here shuffles the snapshot:
    - exact tier: the batch's distinct hashes BROADCAST into a
      left-semi reduction of the snapshot hash relation (map-only
      scan; in production that scan reads the ingest-time hash index,
      cf. _build_dedup_index), and the ≤|batch|-row hit-set is
      broadcast back for the verdict join.
    - near tier: the batch's shingles (small) BROADCAST against the
      snapshot shingle relation — candidates emerge map-side and the
      only shuffle keys on (snap_doc, inc_doc) candidate pairs, whose
      volume is bounded by shared-shingle df exactly as in
      ext_dedup_near. Within-batch near-dup is a self-join of the
      tiny batch alone.
    """
    d = read_table(spark, sf_dir, "documents")
    h = F.md5("text").alias("h")
    is_snap = F.col("doc_id") % 10 < 8
    inc = d.filter(~is_snap).select("doc_id", "source", h)

    # exact tier, snapshot side: semi-join reduction, map-only scan
    inc_hashes = inc.select("h").distinct()
    snap_hits = (
        d.filter(is_snap)
        .select(h)
        .join(F.broadcast(inc_hashes), "h", "left_semi")
        .distinct()
        .withColumn("exact_snap", F.lit(True))
    )
    # exact tier, within batch: first occurrence wins
    rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id"))
    ranked = inc.withColumn("rn", rn)

    # near tier: shingle candidates, batch side broadcast
    sh = _shingled(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    snap_sh = sh.filter(is_snap)
    inc_sh = sh.filter(~is_snap)

    def _near_hits(left_sh: DataFrame, pair_cond) -> DataFrame:
        a = left_sh.select(F.col("doc_id").alias("prior_doc"), "sh")
        b = inc_sh.select(F.col("doc_id").alias("inc_doc"), "sh")
        co = (
            a.join(F.broadcast(b), ["sh"])
            .filter(pair_cond)
            .groupBy("prior_doc", "inc_doc")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        sa = sz.select(F.col("doc_id").alias("prior_doc"), F.col("n").alias("na"))
        sb = sz.select(F.col("doc_id").alias("inc_doc"), F.col("n").alias("nb"))
        jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
        # broadcast the SMALL sides only: the candidate set (co) is
        # bounded by shared-shingle df, the batch size relation (sb)
        # by |batch| — the corpus-wide size relation (sa) is scanned
        # map-only, never broadcast/shuffled
        return (
            sa.join(F.broadcast(co), "prior_doc")
            .join(F.broadcast(sb), "inc_doc")
            .filter(jac >= _TAU)
            .select(F.col("inc_doc").alias("doc_id"))
            .distinct()
        )

    near_snap = _near_hits(snap_sh, F.lit(True)).withColumn("near_snap", F.lit(True))
    near_batch = _near_hits(
        inc_sh, F.col("prior_doc") < F.col("inc_doc")
    ).withColumn("near_batch", F.lit(True))

    return (
        ranked.join(F.broadcast(snap_hits), "h", "left")
        .join(F.broadcast(near_snap), "doc_id", "left")
        .join(F.broadcast(near_batch), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(
                F.coalesce("exact_snap", F.lit(False))
                | F.coalesce("near_snap", F.lit(False)),
                F.lit("dup_snapshot"),
            )
            .when(
                (F.col("rn") > 1) | F.coalesce("near_batch", F.lit(False)),
                F.lit("dup_batch"),
            )
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


_CONTAIN_T = 0.6  # containment threshold: |A∩B| / |A| ≥ t

_CONTAIN_ORACLE = f"""
WITH {_SHINGLE_CTES}, co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), sized AS (
  SELECT co.doc_a, co.doc_b, co.i, len(da.s) AS la
  FROM co JOIN d da ON da.doc_id = co.doc_a
)
SELECT doc_a, doc_b, i AS shared_shingles, la AS sz_a,
       i::DOUBLE / la AS containment
FROM sized
WHERE i::DOUBLE / la >= {_CONTAIN_T}
"""


@register("ext_dedup_containment", oracle=_CONTAIN_ORACLE)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join — DIRECTIONAL near-duplication: pairs where
    ≥ {t} of doc_a's shingles appear in doc_b (|A∩B|/|A|). This is
    what symmetric Jaccard (ext_dedup_near) structurally misses: a
    short document quoted inside a long one has high containment but
    low Jaccard, and quote/boilerplate-inclusion detection is a
    containment question.

    Prefix filter, containment form: if C(a→b) ≥ t then doc_a's
    (|A| − ⌈t|A|⌉ + 1) rarest shingles cannot ALL miss B — so
    candidates are a's containment-prefix joined against the FULL
    shingle relation on the b side (no prefix cut on b: the
    container may be arbitrarily large; the only b-side prune is
    |B| ≥ ⌈t|A|⌉). The stored PPJoin prefix index is cut at the
    Jaccard τ, which is always ≥ the containment prefix (⌈t·sz⌉
    monotone in t), so the same ingest-time artifact serves both
    joins — rn ≤ sz − ⌈t·sz⌉ + 1 re-cuts it. Verification reuses
    the shared sorted-int64 intersect kernel; the directional ratio
    is one exact division.

    Scale: candidate fan-out is prefix-df × full-df per shingle —
    larger than the symmetric join's prefix² by design (the b side
    is unpruned), which is the real cost of containment at 100 TB;
    rare-first prefix ordering keeps the hot shingles out of the
    a side, and AQE splits what remains.
    """
    idx_dir = _build_dedup_index(spark, sf_dir)
    prefix = spark.read.parquet(f"{idx_dir}/prefix")
    shingles = spark.read.parquet(f"{idx_dir}/shingles")
    sizes = prefix.select("doc_id", "sz").distinct()

    c_prefix_len = F.col("sz") - F.ceil(F.lit(_CONTAIN_T) * F.col("sz")) + 1
    pa = prefix.filter(F.col("rn") <= c_prefix_len).alias("a")
    b = shingles.join(sizes, "doc_id").alias("b")
    cand = (
        pa.join(b.hint("shuffle_hash"), F.col("a.sh") == F.col("b.sh"))
        .filter(
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.sz") >= F.ceil(F.lit(_CONTAIN_T) * F.col("a.sz")))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = _verify_jaccard(cand, spark, sf_dir)
    sz_a = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")
    )
    return (
        verified.join(sz_a, "doc_a")
        .withColumn(
            "containment",
            F.col("shared_shingles").cast("double") / F.col("sz_a"),
        )
        .filter(F.col("containment") >= _CONTAIN_T)
        .select("doc_a", "doc_b", "shared_shingles", "sz_a", "containment")
    )


@register(
    "ext_dedup_recall_eval",
    oracle=f"""
WITH true_pairs AS ({_NEAR_ORACLE}),
found_pairs AS ({_MINHASH_ORACLE})
SELECT (SELECT COUNT(*) FROM true_pairs) AS n_true,
       (SELECT COUNT(*) FROM found_pairs) AS n_found,
       CAST((SELECT COUNT(*) FROM found_pairs) AS DOUBLE)
         / (SELECT COUNT(*) FROM true_pairs) AS recall
""",
)
def ext_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tier recall evaluation — the ext_sim_recall_eval of the
    text side: how many of the TRUE near-duplicate pairs (the
    complete prefix-filtered join, ext_dedup_near) the banded
    MinHash tier (ext_dedup_minhash) actually surfaced. Banding
    recall is the knob that justifies running LSH instead of the
    exact join at 100 TB, so it must be measurable in-engine; LSH
    precision is 1 by construction here (candidates are
    exact-verified before emission), so recall is the whole story.

    Composition: both sides ARE the registered queries, called
    directly — they share the cached shingle index and pair-verify
    machinery, so the eval costs two skinny counts on top of work
    the dedup family already did. recall = n_found / n_true is one
    exact division of counts.
    """
    n_true = (
        ext_dedup_near(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    n_found = (
        ext_dedup_minhash(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        n_true.crossJoin(n_found)
        .select(
            "n_true",
            "n_found",
            (
                F.col("n_found").cast("double") / F.col("n_true")
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicate-substring tier (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): flag duplicate spans
# of >= _SUBSTR_W tokens ACROSS documents. The paper builds one giant
# suffix array; the Spark-first equivalent below is anchor-join +
# diagonal islands, which keeps every shuffle KEYED and needs no
# global ordered structure.

#: minimum duplicated span length, in tokens (the paper's threshold).
_SUBSTR_W = 50

#: anti-boilerplate guard: a W-gram shared by more than this many
#: DISTINCT documents (site chrome, license headers) is excluded from
#: pair generation in BOTH engines — df-capped candidate generation
#: is what keeps the pair relation linear-ish at corpus scale.
_SUBSTR_MAX_DF = 64


# Shared oracle CTE prefix: tokenized docs -> W-gram anchor hashes ->
# df-capped duplicate anchors -> cross-doc position pairs -> maximal
# runs per (doc pair, diagonal). SINGLE SOURCE for both the detection
# and the removal oracle, exactly as _substring_spans is for the two
# Spark plans — a change to the hash, W, or the df cap lands in one
# place per engine or nowhere.
_SUBSTR_RUNS_CTES = f"""t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_SUBSTR_W}
),
anchors AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5(array_to_string(tok[i:i+{_SUBSTR_W - 1}], ' ')), 1, 15)
              AS BIGINT) AS h
  FROM (SELECT doc_id, tok, unnest(range(1, len(tok) - {_SUBSTR_W - 2})) AS i
        FROM t)
),
dup AS (
  SELECT h FROM anchors GROUP BY h
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SUBSTR_MAX_DF}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM anchors a JOIN dup USING (h) JOIN anchors b USING (h)
  WHERE a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
  FROM pairs
),
spans AS (
  SELECT doc_a, doc_b,
         CAST(MIN(pos_a) AS BIGINT) AS a_start,
         CAST(MIN(pos_b) AS BIGINT) AS b_start,
         CAST(COUNT(*) + {_SUBSTR_W - 1} AS BIGINT) AS span_tokens
  FROM runs GROUP BY doc_a, doc_b, diag, grp
)"""


def _substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated >= W-token spans across document pairs:
    (doc_a, doc_b, a_start, b_start, span_tokens) with doc_a < doc_b.
    The SHARED kernel of ext_dedup_substring (detection) and
    ext_dedup_substring_removal (the cut pass) — anchor hashing,
    df-capped pair generation, and the gaps-and-islands maximal-run
    aggregation live only here (and in _SUBSTR_RUNS_CTES for the
    oracles)."""
    W = _SUBSTR_W
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), " ").alias("tok"))
        .filter(F.size("tok") >= W)
    )
    anchors = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(tok) - {W - 1}), i -> "
                f"cast(conv(substring(md5(array_join(slice(tok, i, {W}), "
                f"' ')), 1, 15), 16, 10) as bigint))"
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    # checkpoint the anchor index: it feeds the df histogram AND both
    # pair sides, and without the barrier each consumer re-runs the
    # md5-per-window pass (no ReusedExchange in the measured plan —
    # 3-4 full anchor computations per query). Materializing anchor
    # hashes is the Lee-et-al shape anyway (their tool materializes
    # the far larger suffix array); slim int64 triples, spill-safe.
    # (r13 optimization; guide §5 caching-when-reused)
    anchors = anchors.localCheckpoint(eager=False)
    dup = (
        anchors.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("dd"))
        .filter((F.col("dd") >= 2) & (F.col("dd") <= _SUBSTR_MAX_DF))
        .select("h")
    )
    # df-filtered hits feed both pair sides: one more slim barrier
    hits = anchors.join(dup, "h").localCheckpoint(eager=False)
    a = hits.select(
        "h", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = hits.select(
        "h", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .drop("h")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = pairs.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("bigint").alias("a_start"),
            F.min("pos_b").cast("bigint").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(W - 1)).cast("bigint").alias(
                "span_tokens"
            ),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )


@register(
    "ext_dedup_substring",
    oracle=f"""
WITH {_SUBSTR_RUNS_CTES}
SELECT doc_a, doc_b, a_start, b_start, span_tokens FROM spans
""",
)
def ext_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document duplicate SUBSTRING spans (>= 50 tokens),
    the one standard LLM-dedup tier the repo lacked: Lee et al. 2022
    remove exact duplicate >=50-token character/token spans because
    near-dup tiers (MinHash over whole docs) miss partial overlap —
    a quote, a syndicated paragraph, a template body shared by
    otherwise-different documents.

    The paper's tool is a single suffix array over the concatenated
    corpus — inherently sequential to build and awkward to shard.
    The Spark-first equivalent (see _substring_spans, the kernel
    shared with the removal pass) is EXACT for detection and
    maximal-span reporting, with only keyed shuffles:

    1. ANCHORS: every W-token window (W=50) of every doc, hashed to
       the house 60-bit portable md5 prefix. Any duplicate span of
       length L >= W contains exactly L-W+1 shared W-gram anchors,
       so span detection reduces to anchor-hash equality. The
       50-token window string is built and hashed MAP-SIDE inside
       whole-stage codegen (transform/slice/array_join/md5);
       only (doc_id, pos, h) int64 triples ever shuffle — the ~50x
       string blowup is transient per-task CPU, never network. (A
       Rabin-Karp rolling hash would cut that CPU 50x at 100 TB;
       same relation, drop-in swap.)
    2. DF CAP: W-grams shared by 2..64 distinct docs generate pairs;
       hotter ones (site chrome, license boilerplate) are excluded
       in BOTH engines — the df cap is what bounds pair fan-out at
       corpus scale (max observed df on the fixtures is 4).
    3. PAIRS: anchors self-joined on h (keyed shuffle), doc_a < doc_b.
    4. MAXIMAL SPANS: matches at the same diagonal (pos_a - pos_b)
       with consecutive pos_a belong to one span — the gaps-and-
       islands trick (pos_a - row_number() per (doc_a, doc_b, diag)
       window: KEYED by doc pair, never global). Each island is one
       maximal duplicated span: (a_start, b_start, length + W - 1).

    Hash collisions (2^-60/pair) could in principle alias two
    different W-grams, but both engines join on the SAME hash, so
    the relation still matches bit-for-bit (house convention, cf.
    _shingled).
    """
    return _substring_spans(spark, sf_dir)


@register(
    "ext_dedup_substring_removal",
    oracle=f"""
WITH {_SUBSTR_RUNS_CTES},
cut AS (
  SELECT DISTINCT doc_id, s + o AS pos
  FROM (SELECT doc_b AS doc_id, b_start AS s,
               unnest(range(span_tokens)) AS o
        FROM spans)
),
alltok AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
),
toks AS (
  SELECT d.doc_id, i AS pos, tok[i] AS token
  FROM (SELECT doc_id, tok, unnest(range(1, len(tok) + 1)) AS i
        FROM alltok) d(doc_id, tok, i)
),
kept AS (
  SELECT toks.doc_id, pos, token
  FROM toks LEFT JOIN cut USING (doc_id, pos)
  WHERE cut.pos IS NULL
),
kept_agg AS (
  SELECT doc_id,
         string_agg(token, ' ' ORDER BY pos) AS deduped_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT nt.doc_id,
       COALESCE(k.deduped_text, '') AS deduped_text,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(nt.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_cut
FROM (SELECT doc_id, len(tok) AS n FROM alltok) nt
LEFT JOIN kept_agg k ON nt.doc_id = k.doc_id
""",
)
def ext_dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL pass completing the Lee-et-al substring tier:
    ext_dedup_substring FLAGS duplicate >= 50-token spans; this query
    CUTS them from the later document of each pair (doc_a < doc_b
    keeps the first occurrence — the paper removes one copy of each
    duplicated span, not both) and re-emits the deduped text.

    Spark-first: the span relation IS the registered detection kernel
    (_substring_spans — one code path for both queries, one oracle
    CTE prefix for both twins); the cut set explodes each doc_b span
    into (doc_id, pos) rows — O(span tokens), NOT O(doc tokens) —
    then one keyed anti-join drops cut positions from the posexploded
    token stream and an ordered string aggregation (the
    agg_string_agg kernel: collect_list of (pos, token) structs
    sorted in-aggregate) rebuilds the text. MATCHING is
    case-insensitive (the detection contract) but the re-emitted
    text keeps the ORIGINAL casing — split(' ') gives identical
    token boundaries either way, and a training corpus must not come
    back case-destroyed. The token stream covers EVERY document —
    docs shorter than W generate no anchors, so their cut set is
    empty and they pass through verbatim with n_tokens_cut = 0, and
    a WHOLE-document duplicate emits an empty remainder rather than
    vanishing (no special case, both pinned by test). Every shuffle
    is keyed by doc_id or anchor hash; nothing global.

    Scale note: emitting full rewritten text makes output size O(
    corpus) — the pipeline shape at 100 TB writes this as the next
    pretrain-corpus snapshot, exactly what the operator models.
    """
    spans = _substring_spans(spark, sf_dir)
    cut = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(
            F.expr("sequence(b_start, b_start + span_tokens - 1)")
        ).alias("pos"),
    ).distinct()
    # the token stream covers EVERY doc, in ORIGINAL casing (short
    # docs have no anchors, hence an empty cut set, and pass through
    # verbatim)
    alltok = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("tok")
    )
    toks = alltok.select(
        "doc_id", F.posexplode("tok").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    kept = toks.join(cut, ["doc_id", "pos"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, token))), "
                   "x -> x.token)"),
        ).alias("deduped_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # LEFT join from the full doc list: a doc whose every token sits
    # inside duplicated spans (a whole-document duplicate) emits an
    # EMPTY remainder rather than disappearing from the output corpus
    nt = alltok.select("doc_id", F.size("tok").alias("n"))
    return nt.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_tokens_kept"),
        (F.col("n") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_tokens_cut"),
    )

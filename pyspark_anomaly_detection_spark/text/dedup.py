"""Deduplication operators over ``documents`` (north-star, SURVEY §2.10 ext).

* Exact dedup: content hashing (sha256 group-by) — reference analogue
  ``dropDuplicates`` (none in reference; standard pattern).
* MinHash: deterministic md5-based signatures (NOT MLlib's MinHashLSH, whose
  seeds are engine-private) — every stage is SQL-expressible, so even the
  LSH banding join has an exact DuckDB oracle.
* n-gram Jaccard: exact set similarity on candidate pairs.
* SimHash: vectorized pandas_udf (numpy bit-twiddling) — rows-only check.

Scale design (100 TB):

* Exact dedup is a hash group-by on a 32-byte digest — shuffles digests,
  not documents.
* MinHash-LSH: signature computation is embarrassingly parallel; the
  band-bucket self-join shuffles only (band_id, band_hash, doc_id) triples
  and AQE handles hot buckets.  Brute-force pair scans are confined to
  within-bucket candidates.
* The n-gram Jaccard brute-force variant is quadratic — exposed only over
  a keyed sample here; at scale it runs as the LSH verification stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_anomaly_detection_spark.cachepool import tracked_persist
from pyspark_anomaly_detection_spark.functions import (
    MD5_LONG60_SQL,
    MINHASH_P,
    md5_long60,
    shingles,
    shingles_sql,
    tokens,
    universal_hash,
    universal_hash_sql,
)
from pyspark_anomaly_detection_spark.io.readers import load_table
from pyspark_anomaly_detection_spark.registry import register

N_MINHASH = 8
SHINGLE_N = 3


def content_digest(text: Column) -> Column:
    """Normalized content digest for exact dedup: sha256 of trimmed,
    whitespace-collapsed, lowercased text."""
    return F.sha2(F.lower(F.regexp_replace(F.trim(text), "\\s+", " ")), 256)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct content digest."""
    w = Window.partitionBy("_digest").orderBy(id_col)
    return (
        df.withColumn("_digest", content_digest(F.col(text_col)))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_digest", "_rk")
    )


@register(
    "q32_exact_dedup_stats",
    oracle="""
    SELECT
      source,
      COUNT(*) AS n_docs,
      COUNT(DISTINCT sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS n_unique,
      CAST(COUNT(*) - COUNT(DISTINCT sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS BIGINT) AS n_dup_docs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q32_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup profile per source: documents minus distinct digests."""
    docs = load_table(spark, sf_dir, "documents")
    digest = content_digest(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(digest).alias("n_unique"),
            (F.count("*") - F.countDistinct(digest)).alias("n_dup_docs"),
        )
        .orderBy("source")
    )


def minhash_signatures_df(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures via explode → hash-once → aggregate-min.

    The scale formulation: each shingle's md5 is computed exactly once
    (vs once per hash function in the expression form), the n mins are a
    hash aggregate with map-side partials (one row per doc leaves each
    partition), and everything stays in whole-stage codegen — no
    interpreted higher-order lambdas.  ~10× faster than the expression
    form at sf0.1 and the gap widens with document length.

    The shingle/hash explode is the CPU-heavy map side, so it must be
    spread over the cluster: an under-partitioned source (the testdata
    parquet is a single row group → one task) would serialize it on one
    core.  When the scan has fewer partitions than half the default
    parallelism we repartition first — one narrow round-robin shuffle of
    the text, amortized across the whole signature computation.
    """
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < max(2, target // 2):
        docs = docs.repartition(target)
    # Tokenize ONCE into a materialized array column before shingling:
    # expressions inside higher-order-function lambdas are interpreted
    # and re-evaluated per element, so an inline tokens() inside the
    # shingle slice lambda re-splits the text once per shingle —
    # O(tokens²) character work per document (r16 optimization, guide
    # §1.2 per-task work; measured ~10% off the signature stage at
    # sf0.1).  Same pattern applied at every shingles() call site.
    exploded = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_tok")
    ).select(
        F.col(id_col),
        F.explode_outer(shingles(F.col("_tok"), SHINGLE_N)).alias("_sh"),
    ).withColumn("_base", md5_long60(F.col("_sh")))
    agg = exploded.groupBy(id_col).agg(
        *[
            F.min(universal_hash(F.col("_base"), i)).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    )
    sig = F.array(
        *[F.coalesce(F.col(f"_h{i}"), F.lit(MINHASH_P)) for i in range(n_hashes)]
    )
    return agg.select(F.col(id_col), sig.alias("sig"))


def _minhash_sql(n_hashes: int = N_MINHASH) -> str:
    base = (
        f"list_transform({shingles_sql('str_split(text, chr(32))', SHINGLE_N)}, "
        f"s -> {MD5_LONG60_SQL.format(x='s')})"
    )
    mins = ", ".join(
        f"coalesce(list_min(list_transform(base, b -> {universal_hash_sql('b', i)})), {MINHASH_P})"
        for i in range(n_hashes)
    )
    return f"(SELECT doc_id, [{mins}] AS sig FROM (SELECT doc_id, {base} AS base FROM documents))"


@register(
    "q33_minhash_signatures",
    oracle=f"""
    SELECT doc_id, sig AS minhash_sig
    FROM {_minhash_sql()}
    WHERE doc_id % 11 = 0
    ORDER BY doc_id
    """,
)
def q33_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    return (
        minhash_signatures_df(docs)
        .select("doc_id", F.col("sig").alias("minhash_sig"))
        .orderBy("doc_id")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one (band, band-signature).

    bands=4 over 8 hashes → rows-per-band r=2 → collision prob ≈ 1-(1-s²)⁴
    for Jaccard s.  Shuffles only (band, hash-slice, id) — never the text.
    """
    banded = banded_buckets(docs, n_hashes, bands, text_col, id_col)
    # Pair generation by BUCKET-GROUPING, not a self-join: Catalyst plans a
    # banded self-join as TWO full signature computations (no exchange
    # reuse fires across the join sides — measured), i.e. the corpus is
    # scanned, shingled and hashed twice.  Grouping on the bucket key
    # computes signatures once and shuffles once; in-bucket (a < b)
    # combinations come from an array-combinatorics expression over the
    # (small) per-bucket id list.  Same skew bound as the join: a B-doc
    # bucket yields B² pairs either way.
    ids = F.array_sort(F.collect_list(id_col))
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(ids.alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


@register(
    "q34_minhash_lsh_pairs",
    headline=True,
    oracle=f"""
    WITH sigs AS (
      SELECT doc_id, sig FROM {_minhash_sql()}
    ),
    banded AS (
      SELECT doc_id, k AS band, sig[k*2+1 : k*2+2] AS band_sig
      FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS k)
    )
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def q34_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs).orderBy("doc_a", "doc_b")


#: Sentinel "earlier-than-any-real-doc" id used to inject already-occupied
#: LSH buckets into :func:`lsh_keep_first` (streaming incremental form).
_OCCUPIED_ID = -(1 << 62)


def banded_buckets(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_sig) bucket membership rows — the LSH blocking key
    stream shared by the pair generator and the keep-first survivor
    census.  Shuffles fixed-width (band, hash-slice, id) rows only."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures_df(docs, n_hashes, text_col, id_col)
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice("sig", b * rows_per_band + 1, rows_per_band).alias(
                            "band_sig"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bd"),
    ).select(id_col, "bd.band", "bd.band_sig")


def lsh_keep_first(
    docs: DataFrame,
    occupied: DataFrame | None = None,
    n_hashes: int = N_MINHASH,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """First-occurrence near-dup survivor census: ``(doc_id, kept)`` where
    a doc is kept iff NO smaller-id doc cohabits any of its MinHash band
    buckets.  Unlike greedy sequential dedup (whose survivor set depends
    on processing order through non-transitive collisions), this rule is
    order-independent — every doc is judged against ALL earlier ids, kept
    or not — so one declarative plan computes it and a DuckDB oracle can
    replay it bit-for-bit (q204), and the streaming incremental form
    (streaming/incremental.py::start_incremental_minhash_dedup) provably
    equals the batch form when batches arrive in id order.

    ``occupied`` (optional): (band, band_sig) buckets already claimed by
    earlier corpora/batches; injected as a sentinel earlier-than-any id,
    so any doc touching one is dropped.

    Plan shape: signatures aggregate once (map-side partial min), buckets
    shuffle once for the per-bucket window min, doc verdicts reduce once
    — 3 shuffles of fixed-width rows, text never shuffles.  The window
    has no ORDER BY (whole-partition min frame), so a hot bucket costs a
    sort of its (band, hash) rows, not a single-task corpus sort."""
    banded = banded_buckets(docs, n_hashes, bands, text_col, id_col)
    if occupied is not None:
        banded = banded.unionByName(
            occupied.select(
                F.lit(_OCCUPIED_ID).cast("long").alias(id_col),
                "band",
                "band_sig",
            )
        )
    bucket_min = F.min(id_col).over(Window.partitionBy("band", "band_sig"))
    return (
        banded.withColumn("_m", bucket_min)
        .filter(F.col(id_col) != _OCCUPIED_ID)
        .groupBy(id_col)
        .agg(F.min("_m").alias("_mm"))
        .select(
            F.col(id_col), (F.col("_mm") == F.col(id_col)).alias("kept")
        )
    )


@register(
    "q204_lsh_keep_first",
    oracle=f"""
    WITH sigs AS (
      SELECT doc_id, sig FROM {_minhash_sql()}
    ),
    banded AS (
      SELECT doc_id, k AS band, sig[k*2+1 : k*2+2] AS band_sig
      FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS k)
    ),
    bucket_min AS (
      SELECT band, band_sig, min(doc_id) AS m
      FROM banded GROUP BY band, band_sig
    )
    SELECT b.doc_id, (min(bm.m) = b.doc_id) AS kept
    FROM banded b
    JOIN bucket_min bm ON b.band = bm.band AND b.band_sig = bm.band_sig
    GROUP BY b.doc_id
    ORDER BY doc_id
    """,
)
def q204_lsh_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full keep/drop census of the corpus under first-occurrence LSH
    near-dup dedup — the manifest a training pipeline applies before
    tokenization.  Fully oracle-hashed: the portable md5 hash family
    lets DuckDB rebuild identical signatures, buckets, and verdicts."""
    docs = load_table(spark, sf_dir, "documents")
    return lsh_keep_first(docs).orderBy("doc_id")


@register(
    "q35_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
        list_distinct({shingles_sql("str_split(text, chr(32))", SHINGLE_N)}) AS sset
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
        / (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sset, b.sset)) > 0
    ORDER BY doc_a, doc_b
    """,
)
def q35_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over a keyed sample (brute-force verification
    stage of the LSH pipeline).  jaccard = |∩| / (|A|+|B|-|∩|)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return ngram_jaccard_pairs(docs)


def ngram_jaccard_pairs(docs: DataFrame, max_rows: int = 10_000) -> DataFrame:
    """Exact Jaccard for every pair sharing ≥ 1 shingle — the
    VERIFICATION operator auditing the banded LSH pipeline's recall on
    keyed samples.

    Computed via the inverted-index formulation, not a nested-loop
    all-pairs: explode shingle sets, equi-join on the shingle, count
    shared elements per pair, join set sizes back — identical exact
    output (a pair appears iff intersection ≥ 1; the division is the
    same single IEEE op over exact ints), but the join is hash-based and
    the shuffle carries (element, doc_id) pairs.  Still guarded: the
    OUTPUT is quadratic in co-occurring docs per shingle, so unsampled
    corpora are refused — the production dedup path remains
    ``minhash_lsh_pairs``.  The 10k cap admits keyed samples up to the
    sf1 scale point (5k sampled docs) while still refusing full corpora
    an order of magnitude above it."""
    n = docs.count()
    if n > max_rows:
        raise ValueError(
            f"exact Jaccard all-pairs refused: {n} rows > {max_rows}; "
            "sample the input (e.g. a keyed doc_id % k filter) or use the "
            "banded LSH pipeline for production dedup"
        )
    sh = tracked_persist(
        docs.select("doc_id", tokens(F.col("text")).alias("_tok")).select(
            "doc_id",
            F.array_distinct(shingles(F.col("_tok"), SHINGLE_N)).alias(
                "sset"
            ),
        )
    )
    sizes = sh.select("doc_id", F.size("sset").alias("n_elems"))
    elems = sh.select("doc_id", F.explode("sset").alias("elem"))
    a, b = elems.alias("a"), elems.alias("b")
    pairs = (
        a.join(b, "elem")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("_inter"))
    )
    union = F.col("n_a") + F.col("n_b") - F.col("_inter")
    return (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_elems").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_elems").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("_inter").cast("double") / union).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document via an Arrow-vectorized pandas UDF.

    Python is justified here: per-bit weighted majority over token hashes is
    a bit-parallel numpy job, not a relational expression.  Hashes use
    blake2b(token) for determinism across runs/partitions.  Rows-only
    correctness check (no SQL oracle).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: no type annotations — PEP 563 stringized hints break pyspark's
    # pandas_udf eval-type inference; the explicit SCALAR default applies.
    def _simhash_batch(texts):
        out = np.zeros(len(texts), dtype=np.int64)
        for i, text in enumerate(texts):
            tokens_ = (text or "").split()
            if not tokens_:
                continue
            acc = np.zeros(64, dtype=np.int64)
            shifts = np.arange(64, dtype=np.uint64)
            for tk in tokens_:
                # uint64 throughout: hashes with the top bit set are valid
                h = np.uint64(
                    int.from_bytes(
                        hashlib.blake2b(tk.encode(), digest_size=8).digest(), "big"
                    )
                )
                bits = (h >> shifts) & np.uint64(1)
                acc += np.where(bits == 1, 1, -1)
            sim = 0
            for bit in np.nonzero(acc > 0)[0]:
                sim |= 1 << int(bit)
            # keep in signed-64 range
            out[i] = sim - (1 << 64) if sim >= (1 << 63) else sim
        return pd.Series(out)

    _simhash = pandas_udf(_simhash_batch, "long")
    return df.select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))


@register(
    "q36_simhash",
    # promoted round 11 from rows-only: blake2b is not a SQL expression,
    # but the pandas-lane SimHash's CONTRACT is — the hashed-doc census is
    # hash-checked cross-engine (one signature per selected doc, none
    # dropped by the Arrow batching), and the algorithm's defining
    # invariance is a verdict: SimHash is an order-independent bag-of-
    # tokens majority, so hashing each doc with its token order REVERSED
    # must reproduce every signature bit-for-bit.  Raw signatures remain
    # available via simhash64; the JVM twin (q118) carries the exact-value
    # oracle.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS order_invariant
    FROM documents WHERE doc_id % 10 = 0
    """,
    python_lane=True,  # the Arrow-vectorized pandas UDF IS the operator
)
def q36_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit of the pandas-lane 64-bit SimHash: exact hashed-doc
    census plus the order-invariance verdict (see registration comment)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    fwd = simhash64(docs)
    rev = simhash64(
        docs.withColumn(
            "text", F.concat_ws(" ", F.reverse(F.split(F.col("text"), " ")))
        )
    ).withColumnRenamed("simhash", "_simhash_rev")
    return (
        fwd.join(rev, "doc_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(
                (F.col("simhash") == F.col("_simhash_rev")).cast("int")
            ).alias("_inv"),
        )
        # coalesce: MIN over zero docs is NULL — invariance holds
        # vacuously on an empty corpus (empty-table fuzz variant)
        .select(
            "n_docs",
            F.coalesce(F.col("_inv") == 1, F.lit(True)).alias(
                "order_invariant"
            ),
        )
    )


SIMHASH_BITS = 60  # md5_long60 supplies 60 deterministic bits


def simhash_exact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Declarative SimHash: explode tokens, md5-hash each once, then 60
    conditional-sum bit votes in ONE hash aggregate, recombined into the
    signature long.  Pure integer arithmetic end-to-end — unlike the
    pandas_udf form (``simhash64``), this is whole-stage-codegen'd,
    map-side combinable (votes are sums), and exactly reproducible in SQL,
    which is also why it is the 100 TB path: one explode + one aggregate,
    shuffle carries 60 ints per doc.
    """
    from pyspark_anomaly_detection_spark.functions import md5_long60, tokens

    tok = docs.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("_tok"),
    ).withColumn("_h", md5_long60(F.col("_tok")))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sig = sum(
        (
            F.when(F.col(f"_v{i}") >= 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(SIMHASH_BITS)
        ),
        start=F.lit(0).cast("long"),
    )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def _q118_oracle() -> str:
    votes = ",\n        ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{i} >= 0 THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(str_split(text, chr(32))) AS t
      FROM documents WHERE doc_id % 10 = 0
    ),
    hashed AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM tok
    ),
    votes AS (
      SELECT doc_id,
        {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
    FROM votes
    ORDER BY doc_id
    """


@register("q118_simhash_exact", oracle=_q118_oracle())
def q118_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM/SQL SimHash (same subset as q36's pandas_udf form):
    value-level oracle parity over all 60 bits of every signature."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return simhash_exact(docs).orderBy("doc_id")


@register(
    "q131_dup_degree_distribution",
    oracle=f"""
    WITH sigs AS (
      SELECT doc_id, sig FROM {{minhash}}
    ),
    banded AS (
      SELECT doc_id, k AS band, sig[k*2+1 : k*2+2] AS band_sig
      FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS k)
    ),
    pairs AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
    ),
    und AS (
      SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs
    ),
    degrees AS (
      SELECT node, COUNT(*) AS degree FROM und GROUP BY node
    )
    SELECT CAST(degree AS BIGINT) AS degree,
      COUNT(*) AS n_nodes,
      CAST(MIN(node) AS BIGINT) AS min_node
    FROM degrees
    GROUP BY degree
    ORDER BY degree
    """.replace("{minhash}", _minhash_sql()),
)
def q131_dup_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph: how many documents have
    how many LSH neighbors — the shape diagnostic for dedup clustering
    (a heavy-tailed degree histogram predicts giant components, which
    change the connected-components iteration count and make "keep
    min-id" survivor selection aggressive).  Frequency-of-frequency over
    the pair list — the q113 skew pattern applied to the graph."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    # both endpoints via explode of ONE pairs reference — unionAll of two
    # selects replays the whole MinHash+LSH pipeline per leg (PLAN_AUDIT
    # round 3: documents×2, 11 shuffles; now ×1).
    und = pairs.select(
        F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("node")
    )
    degrees = und.groupBy("node").agg(F.count("*").alias("degree"))
    return (
        degrees.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy("degree")
    )


LSH_AUDIT_THRESHOLD = 0.5


def _q132_oracle() -> str:
    tok = "str_split(text, chr(32))"
    return f"""
    WITH sigs AS (
      SELECT doc_id, sig FROM {_minhash_sql()}
    ),
    banded AS (
      SELECT doc_id, k AS band, sig[k*2+1 : k*2+2] AS band_sig
      FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS k)
    ),
    pairs AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
    ),
    sh AS (
      SELECT doc_id, list_distinct({shingles_sql(tok)}) AS sset FROM documents
    ),
    audited AS (
      SELECT p.doc_a, p.doc_b,
        CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
          / (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)))
          AS jaccard
      FROM pairs p
      JOIN sh a ON p.doc_a = a.doc_id
      JOIN sh b ON p.doc_b = b.doc_id
    )
    SELECT
      COUNT(*) AS n_candidates,
      COUNT(CASE WHEN jaccard >= {LSH_AUDIT_THRESHOLD!r} THEN 1 END)
        AS n_true_dups,
      CAST(COUNT(CASE WHEN jaccard >= {LSH_AUDIT_THRESHOLD!r} THEN 1 END)
           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS precision
    FROM audited
    """


@register("q132_lsh_precision_audit", oracle=_q132_oracle())
def q132_lsh_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality audit: every LSH candidate pair re-scored
    with EXACT shingle Jaccard, reporting candidate count and precision
    at the dedup threshold.  This is the measurement that tunes
    bands×rows: precision too low → wasted verification compute;
    candidate count too low vs expectation → recall risk.  The exact
    re-score joins shingle sets only for candidate pairs (|pairs| ≪
    |docs|²) — the verification stage stays proportional to LSH output,
    never quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    sh = docs.select("doc_id", tokens(F.col("text")).alias("_tok")).select(
        "doc_id",
        F.array_distinct(shingles(F.col("_tok"), SHINGLE_N)).alias("sset"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("aset"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("bset"))
    inter = F.size(F.array_intersect(F.col("aset"), F.col("bset")))
    union = F.size(F.col("aset")) + F.size(F.col("bset")) - inter
    audited = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        # try_divide: two empty shingle sets give union 0 — the pair's
        # jaccard is undefined (NULL), never an ANSI error (fuzz: docs
        # shorter than the shingle width)
        .select(F.try_divide(inter.cast("double"), union).alias("jaccard"))
    )
    hits = F.count(F.when(F.col("jaccard") >= LSH_AUDIT_THRESHOLD, 1))
    return audited.agg(
        F.count("*").alias("n_candidates"),
        hits.alias("n_true_dups"),
        # try_divide: zero candidates (empty corpus) must yield NULL,
        # not an ANSI DIVIDE_BY_ZERO — matches the oracle's IEEE 0/0
        # NaN, which normalizes to <null> (empty-table fuzz variant)
        F.try_divide(
            hits.cast("double"), F.count("*").cast("double")
        ).alias("precision"),
    )


#: Non-overlapping token-chunk width for exact-substring duplicate profiling.
DUP_CHUNK_TOKENS = 16


@register(
    "q138_chunk_dup_ratio",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    chunks AS (
      SELECT doc_id,
             array_to_string(
               w[CAST(i*{DUP_CHUNK_TOKENS}+1 AS BIGINT):CAST(i*{DUP_CHUNK_TOKENS}+{DUP_CHUNK_TOKENS} AS BIGINT)],
               ' ') AS chunk
      FROM toks,
        LATERAL (SELECT unnest(range(CAST(ceil(len(w)/{DUP_CHUNK_TOKENS}.0) AS BIGINT))) AS i)
    ),
    cnt AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY md5(chunk)) AS c FROM chunks
    )
    SELECT doc_id,
      COUNT(*) AS n_chunks,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        AS dup_chunk_ratio
    FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
)
def q138_chunk_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile at chunk granularity (the
    distributed approximation of Lee et al.'s suffix-array substring dedup):
    split every document into non-overlapping {DUP_CHUNK_TOKENS}-token
    chunks, count corpus-wide occurrences of each chunk, and report each
    document's duplicated-chunk ratio — the signal used to strip boilerplate
    spans before training.

    Scale: chunks are reduced to 16-byte md5 digests BEFORE the shuffle, so
    the corpus-frequency window moves (doc_id, digest) pairs only, never
    text; the per-doc rollup then shuffles on doc_id.  Both keys are
    high-cardinality and skew-free at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(t) / F.lit(float(DUP_CHUNK_TOKENS))).cast("bigint")
    chunks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("_i"),
        t.alias("_w"),
    ).select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("_w"),
                    (F.col("_i") * DUP_CHUNK_TOKENS + 1).cast("int"),
                    DUP_CHUNK_TOKENS,
                ),
                " ",
            )
        ).alias("_digest"),
    )
    dup = (F.count("*").over(Window.partitionBy("_digest")) > 1).cast("int")
    flagged = chunks.select("doc_id", dup.alias("_dup"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("_dup").alias("n_dup_chunks"),
            (F.sum("_dup").cast("double") / F.count("*")).alias("dup_chunk_ratio"),
        )
        .orderBy("doc_id")
    )


# ----------------- rolling-window duplicated spans (q182, Lee et al.)

#: Rolling window width (tokens) for the span-level substring profile.
DUP_WINDOW_TOKENS = 8


def _rolling_window_hashes(
    docs: DataFrame,
    window_tokens: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """One row per rolling-window position: (id, n_tokens, pos, wh) —
    the shared explode+hash stage of the span-dedup family.  Every
    shuffled row is (60-bit hash, doc_id, pos) longs, never text."""
    # tokenize once (see minhash_signatures_df): an inline tokens()
    # inside the shingle lambda re-splits the text per window position
    return docs.select(
        F.col(id_col), tokens(text_col).alias("_tok")
    ).select(
        F.col(id_col),
        F.size("_tok").alias("n_tokens"),
        F.posexplode(shingles(F.col("_tok"), window_tokens)).alias("pos", "win"),
    ).select(id_col, "n_tokens", "pos", md5_long60(F.col("win")).alias("wh"))


def _merge_marked_intervals(
    dup: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Merge per-doc marked windows (id, n_tokens, pos, end_pos) into
    maximal disjoint intervals (id, n_tokens, grp, s, e) — one window
    pass per document, the shared merge stage of the span family."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("end_pos").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = dup.withColumn(
        "new_span",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    )
    return (
        marked.withColumn(
            "grp",
            F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "n_tokens", "grp")
        .agg(F.min("pos").alias("s"), F.max("end_pos").alias("e"))
    )


def dup_span_intervals(
    docs: DataFrame,
    window_tokens: int = DUP_WINDOW_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Merged duplicated-token intervals per document: (id, n_tokens,
    s, e) with 0-based inclusive token positions — the shared blocking +
    merge stage behind the q182 profile and the q184 span stripper.
    EVERY occurrence of a ≥2-count window marks its range (strip-all
    policy); see keep_one_span_intervals for the owner-election
    variant.

    The occurrence count runs as a single window ``count over
    (partition by wh)`` — ONE full shuffle of the (hash, doc, pos)
    longs, the same shape as q195's election.  The earlier
    groupBy-count + join-back formulation shuffled the window rows
    TWICE (once into the count, once into the join) and needed the
    explode persisted to avoid recompute; measured at sf0.1 the window
    form is ~30% faster with identical output, and at cluster scale it
    drops both the second full shuffle and the cache-memory
    footprint."""
    wins = _rolling_window_hashes(docs, window_tokens, text_col, id_col)
    w = Window.partitionBy("wh")
    dup = (
        wins.withColumn("_c", F.count("*").over(w))
        .filter(F.col("_c") >= 2)
        .select(
            id_col,
            "n_tokens",
            "pos",
            (F.col("pos") + window_tokens - 1).alias("end_pos"),
        )
    )
    return _merge_marked_intervals(dup, id_col)


def keep_one_span_intervals(
    docs: DataFrame,
    window_tokens: int = DUP_WINDOW_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Owner-election variant of dup_span_intervals — the canonical
    Lee et al. keep-ONE-occurrence semantics: for each duplicated
    window hash the globally-first occurrence (min (doc_id, pos)) is
    the OWNER and marks nothing; every other occurrence marks its
    range.  The corpus keeps exactly one copy of each duplicated
    window instead of zero.

    Scale shape: a single row_number window over the hash key — ONE
    shuffle on (wh), strictly cheaper than the strip-all plan's
    count+join pair (the election subsumes the ≥2 filter: non-owner
    rows exist only for hashes with ≥2 occurrences).  A boilerplate
    window shared by B docs elects one owner and marks B−1 rows —
    still linear, no pair explosion."""
    wins = _rolling_window_hashes(docs, window_tokens, text_col, id_col)
    w = Window.partitionBy("wh").orderBy(id_col, "pos")
    dup = (
        wins.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") >= 2)
        .select(
            id_col,
            "n_tokens",
            "pos",
            (F.col("pos") + window_tokens - 1).alias("end_pos"),
        )
    )
    return _merge_marked_intervals(dup, id_col)


def rolling_dup_spans(
    docs: DataFrame,
    window_tokens: int = DUP_WINDOW_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Position-level exact-substring duplication profile: every
    ``window_tokens``-token ROLLING window (stride 1 — unlike q138's
    non-overlapping chunks) is hashed; windows whose hash occurs ≥2
    times corpus-wide (cross-doc or within-doc) mark their token range
    as duplicated; per document the marked ranges are merged into
    maximal spans and the covered-token fraction reported.  This is the
    distributed re-expression of the suffix-array substring dedup of
    Lee et al. ("Deduplicating Training Data Makes Language Models
    Better", public) at fixed window granularity: a length-L duplicated
    passage (L ≥ window) is covered exactly by its L−window+1 rolling
    windows, so merged spans reproduce the passage boundaries to ±0
    tokens (suffix arrays additionally find shorter matches; the
    window floor plays the role of their min-match-length threshold).

    Scale design: the corpus token stream explodes to one row per
    position — linear in corpus TOKENS, the honest cost of substring
    dedup — but every shuffled row is (60-bit window hash, doc_id,
    pos), never text.  The occurrence count is a partial-aggregated
    groupBy on the hash; the join back is on the same key (exchange
    reuse); the span merge is one window pass per doc.  A boilerplate
    window shared by B docs produces B rows, not B² — no pair
    explosion anywhere."""
    spans = dup_span_intervals(docs, window_tokens, text_col, id_col)
    per_doc = spans.groupBy(id_col, "n_tokens").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    base = docs.select(F.col(id_col), F.size(tokens(text_col)).alias("n_tokens"))
    return (
        base.join(per_doc, [id_col, "n_tokens"], "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
        )
        .withColumn(
            "dup_fraction",
            F.col("dup_tokens").cast("double") / F.col("n_tokens").cast("double"),
        )
        .orderBy(id_col)
    )


_DW = DUP_WINDOW_TOKENS
_WIN_STR_SQL = f"array_to_string(t[pos+1:pos+{_DW}], ' ')"


@register(
    "q182_rolling_dup_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, str_split(text, chr(32)) AS t FROM documents
    ),
    pos_t AS (
      SELECT doc_id, len(t) AS n_tokens, t,
             unnest(range(0, greatest(len(t) - {_DW} + 1, 0))) AS pos
      FROM base
    ),
    wins AS (
      SELECT doc_id, n_tokens, pos,
             {MD5_LONG60_SQL.format(x=_WIN_STR_SQL)} AS wh
      FROM pos_t
    ),
    cnt AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
    dup AS (
      SELECT w.doc_id, w.n_tokens, w.pos, w.pos + {_DW - 1} AS end_pos
      FROM wins w JOIN cnt USING (wh)
    ),
    marked AS (
      SELECT doc_id, n_tokens, pos, end_pos,
        CASE WHEN pos > COALESCE(MAX(end_pos) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM dup
    ),
    grouped AS (
      SELECT doc_id, n_tokens, pos, end_pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM marked
    ),
    spans AS (
      SELECT doc_id, n_tokens, grp, MIN(pos) AS s, MAX(end_pos) AS e
      FROM grouped GROUP BY 1, 2, 3
    ),
    per_doc AS (
      SELECT doc_id, n_tokens, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY 1, 2
    ),
    alldocs AS (
      SELECT doc_id, len(str_split(text, chr(32))) AS n_tokens FROM documents
    )
    SELECT a.doc_id,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
             / CAST(a.n_tokens AS DOUBLE) AS dup_fraction
    FROM alldocs a LEFT JOIN per_doc p USING (doc_id)
    ORDER BY a.doc_id
    """,
)
def q182_rolling_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span profile from corpus-wide rolling
    {DUP_WINDOW_TOKENS}-token window hashes (see rolling_dup_spans):
    (doc_id, n_tokens, n_spans, dup_tokens, dup_fraction)."""
    return rolling_dup_spans(load_table(spark, sf_dir, "documents"))


# --------------------------- duplicated-span stripping rewrite (q184)


def strip_dup_spans(
    docs: DataFrame,
    window_tokens: int = DUP_WINDOW_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The REWRITE step of substring dedup: remove every token covered
    by a duplicated span (q182's intervals) and re-join the survivors —
    the conservative boilerplate-strip policy (all occurrences removed;
    Lee et al.'s keep-one-occurrence variant would additionally need a
    global per-window owner election, which the q169 incremental-dedup
    family covers at document granularity).

    Spark shape: the per-doc span LIST is collected into one array
    column (spans per doc are few — merged maximal intervals), then the
    survivors are materialized by COMPLEMENT-GAP SLICING, all JVM
    higher-order functions: sort the disjoint spans, zip shifted
    span-edges into the gap intervals between them, and ``slice`` the
    token array per gap — O(tokens + spans) per document.  (The naive
    per-token ``exists`` over the span array is O(tokens × spans): a
    pathological megadoc with ~n/window alternating duplicated spans
    turns one task quadratic; the gap form stays linear — see
    tests/test_dup_spans.py adversarial case.)  No Python, no per-token
    shuffle: the only shuffles are q182's hash-count and the doc-keyed
    span aggregation."""
    spans = dup_span_intervals(docs, window_tokens, text_col, id_col)
    return _strip_by_spans(docs, spans, text_col, id_col)


def keep_one_dup_spans(
    docs: DataFrame,
    window_tokens: int = DUP_WINDOW_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-one-occurrence substring dedup (canonical Lee et al.
    semantics): strip only tokens covered by NON-OWNER duplicated
    windows (see keep_one_span_intervals) — the corpus-wide first
    occurrence of every duplicated passage survives verbatim.  Same
    output shape as strip_dup_spans: (doc_id, n_tokens, kept_tokens,
    cleaned_text)."""
    spans = keep_one_span_intervals(docs, window_tokens, text_col, id_col)
    return _strip_by_spans(docs, spans, text_col, id_col)


def _strip_by_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared rewrite stage: remove tokens covered by ``spans`` (disjoint
    intervals per doc) via complement-gap slicing — O(tokens + spans)
    per document, all JVM higher-order functions."""
    span_arrs = spans.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("s"), F.col("e"))).alias("_spans")
    )
    tok = tokens(text_col)
    joined = docs.join(span_arrs, id_col, "left").select(
        F.col(id_col),
        tok.alias("_toks"),
        F.array_sort(
            F.coalesce(
                F.col("_spans"), F.array().cast("array<struct<s:long,e:long>>")
            )
        ).alias("_spans"),
    )
    # Disjoint sorted spans ⇒ the kept tokens are exactly the gaps
    # between them: pair (prev span end, next span start) with sentinels
    # -1 / n_tokens at the edges, drop empty gaps, slice each gap out.
    n_toks = F.size("_toks").cast("long")
    gap_lo = F.concat(
        F.array(F.lit(-1).cast("long")),
        F.transform(F.col("_spans"), lambda sp: sp["e"]),
    )
    gap_hi = F.concat(
        F.transform(F.col("_spans"), lambda sp: sp["s"]),
        F.array(n_toks),
    )
    gaps = F.filter(
        F.zip_with(
            gap_lo,
            gap_hi,
            lambda pe, ns: F.struct(
                (pe + 1).alias("gs"), (ns - 1).alias("ge")
            ),
        ),
        lambda g: g["gs"] <= g["ge"],
    )
    kept = F.flatten(
        F.transform(
            gaps,
            lambda g: F.slice(
                F.col("_toks"),
                (g["gs"] + 1).cast("int"),
                (g["ge"] - g["gs"] + 1).cast("int"),
            ),
        )
    )
    # Materialize the kept-token array ONCE: higher-order-function
    # expressions are interpreted (no codegen CSE), so referencing
    # ``kept`` twice in one projection evaluates the whole gap-slicing
    # pipeline twice per row (r16 optimization, guide §1.2).
    return (
        joined.select(
            id_col,
            F.size("_toks").cast("long").alias("n_tokens"),
            kept.alias("_kept"),
        )
        .select(
            id_col,
            "n_tokens",
            F.size("_kept").cast("long").alias("kept_tokens"),
            F.concat_ws(" ", "_kept").alias("cleaned_text"),
        )
        .orderBy(id_col)
    )


@register(
    "q184_strip_dup_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, str_split(text, chr(32)) AS t FROM documents
    ),
    pos_t AS (
      SELECT doc_id, len(t) AS n_tokens, t,
             unnest(range(0, greatest(len(t) - {_DW} + 1, 0))) AS pos
      FROM base
    ),
    wins AS (
      SELECT doc_id, n_tokens, pos,
             {MD5_LONG60_SQL.format(x=_WIN_STR_SQL)} AS wh
      FROM pos_t
    ),
    cnt AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
    dup AS (
      SELECT w.doc_id, w.pos, w.pos + {_DW - 1} AS end_pos
      FROM wins w JOIN cnt USING (wh)
    ),
    marked AS (
      SELECT doc_id, pos, end_pos,
        CASE WHEN pos > COALESCE(MAX(end_pos) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM dup
    ),
    grouped AS (
      SELECT doc_id, pos, end_pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM marked
    ),
    spans AS (
      SELECT doc_id, grp, MIN(pos) AS s, MAX(end_pos) AS e
      FROM grouped GROUP BY 1, 2
    ),
    tok_pos AS (
      SELECT doc_id, pos AS tpos, t[pos+1] AS tokn
      FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos FROM base)
    ),
    kept AS (
      SELECT tp.doc_id, tp.tpos, tp.tokn
      FROM tok_pos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tp.doc_id AND tp.tpos BETWEEN s.s AND s.e
      )
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
             string_agg(tokn, ' ' ORDER BY tpos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           COALESCE(g.kept_tokens, 0) AS kept_tokens,
           COALESCE(g.cleaned_text, '') AS cleaned_text
    FROM base b LEFT JOIN agg g USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def q184_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span strip rewrite over documents (see
    strip_dup_spans): (doc_id, n_tokens, kept_tokens, cleaned_text)."""
    return strip_dup_spans(load_table(spark, sf_dir, "documents"))


# ------------------- keep-one-occurrence substring dedup (q195)


@register(
    "q195_keep_one_dup_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, str_split(text, chr(32)) AS t FROM documents
    ),
    pos_t AS (
      SELECT doc_id, len(t) AS n_tokens, t,
             unnest(range(0, greatest(len(t) - {_DW} + 1, 0))) AS pos
      FROM base
    ),
    wins AS (
      SELECT doc_id, n_tokens, pos,
             {MD5_LONG60_SQL.format(x=_WIN_STR_SQL)} AS wh
      FROM pos_t
    ),
    dup AS (
      SELECT doc_id, pos, pos + {_DW - 1} AS end_pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rk
        FROM wins
      ) WHERE rk >= 2
    ),
    marked AS (
      SELECT doc_id, pos, end_pos,
        CASE WHEN pos > COALESCE(MAX(end_pos) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM dup
    ),
    grouped AS (
      SELECT doc_id, pos, end_pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM marked
    ),
    spans AS (
      SELECT doc_id, grp, MIN(pos) AS s, MAX(end_pos) AS e
      FROM grouped GROUP BY 1, 2
    ),
    tok_pos AS (
      SELECT doc_id, pos AS tpos, t[pos+1] AS tokn
      FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos FROM base)
    ),
    kept AS (
      SELECT tp.doc_id, tp.tpos, tp.tokn
      FROM tok_pos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tp.doc_id AND tp.tpos BETWEEN s.s AND s.e
      )
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
             string_agg(tokn, ' ' ORDER BY tpos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           COALESCE(g.kept_tokens, 0) AS kept_tokens,
           COALESCE(g.cleaned_text, '') AS cleaned_text
    FROM base b LEFT JOIN agg g USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def q195_keep_one_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-occurrence substring dedup over documents (see
    keep_one_dup_spans): the globally-first occurrence of every
    duplicated window survives; later occurrences are stripped.
    (doc_id, n_tokens, kept_tokens, cleaned_text)."""
    return keep_one_dup_spans(load_table(spark, sf_dir, "documents"))


# ----------- variable-length duplicate-run profile, 8/32 agreement (q202)

#: Coarse rolling-window width for the two-granularity run profile.
DUP_WINDOW_COARSE = 32


def dup_run_profile(
    docs: DataFrame,
    w_fine: int = DUP_WINDOW_TOKENS,
    w_coarse: int = DUP_WINDOW_COARSE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Longest-duplicated-passage profile at TWO window granularities —
    the variable-length view a fixed-window span dedup (q182) lacks.  A
    true suffix-array pass (Lee et al. §4, public) also scores the
    LENGTH of each duplicated match; here the merged-interval machinery
    already recovers passage extents to ±0 tokens at ≥``w_fine``
    granularity, so per document:

    * ``max_run_fine`` / ``max_run_coarse`` — longest merged duplicated
      span (tokens) at each width: the fine width recovers every
      passage ≥ ``w_fine`` tokens; the coarse width responds only to
      passages ≥ ``w_coarse`` tokens, so comparing the two separates
      short boilerplate from long verbatim duplication.
    * ``dup_tokens_fine`` / ``dup_tokens_coarse`` — covered-token
      counts (coarse ⊆ fine by construction: every ``w_coarse``-window
      duplicate is covered by its ``w_fine``-subwindow duplicates).
    * ``n_uncontained_coarse`` — AGREEMENT check: coarse merged spans
      not contained in a single fine merged span.  Containment is an
      invariant of correct span merging (contiguous fine coverage of a
      coarse span collapses into one merged fine interval), so this is
      0 for every document — a cross-granularity self-audit both
      engines compute independently.

    Scale shape: two explode+hash passes over the token stream (the
    honest cost of two granularities; each is linear in corpus tokens
    and shuffles (hash, doc, pos) longs only, never text), one
    doc-keyed containment join between span sets (a handful of rows per
    doc), and a final broadcast-sized per-doc aggregate join."""
    # r16 persisted both span frames (each feeds two legs); r17's clean
    # 5-rep isolated A/B (VERDICT r16 item 9) measured the persists
    # SLOWER — 2.98 s persisted vs 2.05 s recomputed at sf0.1 — because
    # the r16 tokenize-once fix made the span pipeline cheap enough that
    # re-running it beats materializing + scanning the cache (the exact
    # q196 lesson, which r16 already reverted for the lab frame).
    # Reverted to recompute; at cluster scale revisit only with a
    # measured win on real data.
    fine = dup_span_intervals(docs, w_fine, text_col, id_col)
    coarse = dup_span_intervals(docs, w_coarse, text_col, id_col)
    run = (F.col("e") - F.col("s") + 1).cast("long")
    fine_agg = fine.groupBy(id_col).agg(
        F.max(run).alias("max_run_fine"),
        F.sum(run).alias("dup_tokens_fine"),
    )
    coarse_agg = coarse.groupBy(id_col).agg(
        F.max(run).alias("max_run_coarse"),
        F.sum(run).alias("dup_tokens_coarse"),
    )
    c, f = coarse.alias("c"), fine.alias("f")
    uncontained = (
        c.join(
            f,
            (F.col(f"c.{id_col}") == F.col(f"f.{id_col}"))
            & (F.col("f.s") <= F.col("c.s"))
            & (F.col("f.e") >= F.col("c.e")),
            "left_anti",
        )
        .groupBy(F.col(f"c.{id_col}").alias(id_col))
        .agg(F.count("*").alias("n_uncontained_coarse"))
    )
    base = docs.select(
        F.col(id_col), F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    out = (
        base.join(fine_agg, id_col, "left")
        .join(coarse_agg, id_col, "left")
        .join(uncontained, id_col, "left")
    )
    zero = F.lit(0).cast("long")
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("max_run_fine", zero).alias("max_run_fine"),
        F.coalesce("dup_tokens_fine", zero).alias("dup_tokens_fine"),
        F.coalesce("max_run_coarse", zero).alias("max_run_coarse"),
        F.coalesce("dup_tokens_coarse", zero).alias("dup_tokens_coarse"),
        F.coalesce("n_uncontained_coarse", zero).alias("n_uncontained_coarse"),
    ).orderBy(id_col)


def _span_cte_sql(width: int, prefix: str) -> str:
    """DuckDB CTE fragment producing merged duplicated spans at one
    window width — the q182 pipeline parameterized for q202."""
    win_str = f"array_to_string(t[pos+1:pos+{width}], ' ')"
    return f"""
    {prefix}pos AS (
      SELECT doc_id, t,
             unnest(range(0, greatest(len(t) - {width} + 1, 0))) AS pos
      FROM base
    ),
    {prefix}wins AS (
      SELECT doc_id, pos, {MD5_LONG60_SQL.format(x=win_str)} AS wh
      FROM {prefix}pos
    ),
    {prefix}cnt AS (
      SELECT wh FROM {prefix}wins GROUP BY wh HAVING COUNT(*) >= 2
    ),
    {prefix}dup AS (
      SELECT w.doc_id, w.pos, w.pos + {width - 1} AS end_pos
      FROM {prefix}wins w JOIN {prefix}cnt USING (wh)
    ),
    {prefix}marked AS (
      SELECT doc_id, pos, end_pos,
        CASE WHEN pos > COALESCE(MAX(end_pos) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM {prefix}dup
    ),
    {prefix}grouped AS (
      SELECT doc_id, pos, end_pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM {prefix}marked
    ),
    {prefix}spans AS (
      SELECT doc_id, grp, MIN(pos) AS s, MAX(end_pos) AS e
      FROM {prefix}grouped GROUP BY 1, 2
    )"""


@register(
    "q202_dup_run_profile",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, str_split(text, chr(32)) AS t FROM documents
    ),{_span_cte_sql(DUP_WINDOW_TOKENS, "f")},{_span_cte_sql(DUP_WINDOW_COARSE, "g")},
    f_agg AS (
      SELECT doc_id, CAST(MAX(e - s + 1) AS BIGINT) AS max_run_fine,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens_fine
      FROM fspans GROUP BY doc_id
    ),
    g_agg AS (
      SELECT doc_id, CAST(MAX(e - s + 1) AS BIGINT) AS max_run_coarse,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens_coarse
      FROM gspans GROUP BY doc_id
    ),
    unc AS (
      SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_uncontained_coarse
      FROM gspans c
      WHERE NOT EXISTS (
        SELECT 1 FROM fspans f
        WHERE f.doc_id = c.doc_id AND f.s <= c.s AND f.e >= c.e
      )
      GROUP BY c.doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           COALESCE(fa.max_run_fine, 0) AS max_run_fine,
           COALESCE(fa.dup_tokens_fine, 0) AS dup_tokens_fine,
           COALESCE(ga.max_run_coarse, 0) AS max_run_coarse,
           COALESCE(ga.dup_tokens_coarse, 0) AS dup_tokens_coarse,
           COALESCE(u.n_uncontained_coarse, 0) AS n_uncontained_coarse
    FROM base b
    LEFT JOIN f_agg fa USING (doc_id)
    LEFT JOIN g_agg ga USING (doc_id)
    LEFT JOIN unc u USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def q202_dup_run_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-granularity ({DUP_WINDOW_TOKENS}/{DUP_WINDOW_COARSE}-token)
    longest-duplicated-passage profile with cross-granularity
    containment audit (see dup_run_profile)."""
    return dup_run_profile(load_table(spark, sf_dir, "documents"))

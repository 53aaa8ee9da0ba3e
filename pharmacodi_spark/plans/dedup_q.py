"""Exact, MinHash and SimHash dedup rows (text/dedup, text/clusters, text/incremental)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pharmacodi_spark.plans.queries import (
    q,
    _t,
    _md5_long,
    _rnd,
    _SHINGLE_SQL,
    _minhash_sql_select,
    _sim_sql,
)


# ---------------------------------------------------------------------------
# Deduplication (north star: exact + MinHash)
# ---------------------------------------------------------------------------


@q(
    "exact_dedup",
    """
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min doc_id per hash.
    md5 hex output is identical in Spark and DuckDB → oracle-checkable.
    At 100 TB: grouping on the 32-char hash (not the document body) keeps
    shuffle rows tiny; map-side partial agg collapses per-partition dups
    before the exchange."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint,
           CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1024 AS shard
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 60-bit integer content fingerprint + shard
    assignment — the partition-routing primitive for dedup at scale (route
    by fingerprint % N, then dedupe within shards with zero cross-shard
    traffic)."""
    d = _t(spark, sf_dir, "documents")
    fp = _md5_long(F.col("text"))
    return d.select(
        "doc_id", fp.alias("fingerprint"), (fp % 1024).alias("shard")
    )


@q(
    "minhash_signature",
    f"""
    SELECT doc_id,
           {_minhash_sql_select(4)}
    FROM ({_SHINGLE_SQL})
    GROUP BY doc_id
    """,
)
def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=4) over 5-gram word shingles. Hash families are
    sliced from one md5 per shingle → bit-identical in DuckDB — a fully
    oracle-checked MinHash, not a rows-only approximation. 5-gram (not
    unigram) shingles matter: the fixture corpus has a ~30-word vocabulary,
    so unigram sets are near-identical across ALL documents and LSH buckets
    degenerate to quadratic blowup; 5-grams are discriminative. One explode +
    one groupBy: the shuffle carries (doc_id, 4 longs), not shingle text."""
    from pharmacodi_spark.text.dedup import md5_signature

    return md5_signature(_t(spark, sf_dir, "documents"))


@q(
    "minhash_band_pairs",
    f"""
    WITH sig AS (
      SELECT doc_id,
             {_minhash_sql_select(4)}
      FROM ({_SHINGLE_SQL})
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
    WHERE a.doc_id < b.doc_id
    """,
)
def minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band the k=4 signature into 2 bands of 2
    rows and emit the distinct ordered pairs sharing a (band, values)
    bucket — the scale path for near-dedup (shingle→minhash→band→bucket).
    The bucket key is (band, two longs): cardinality-bounded buckets
    instead of an all-pairs comparison (5-gram shingles keep buckets small
    — see minhash_signature). The oracle self-joins the bands; the engine
    expands pairs inside each bucket under the triangle hot-cell guard
    (text/dedup.py::md5_band_pairs)."""
    from pharmacodi_spark.text.dedup import md5_band_pairs, md5_signature

    return md5_band_pairs(md5_signature(_t(spark, sf_dir, "documents")))


@q(
    "jaccard_pairs",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 300
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           floor((CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common)) * 10000 + 0.5) / 10000 AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.9
    """,
)
def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup (unigram token sets, bounded to doc_id < 300
    so the quadratic check stays a *verification* tool — the scale path is
    minhash_band_pairs; this is its exact-Jaccard referee). Integer
    intersection/union counts → one exact double division, identical in
    both engines."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token")).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, on="token")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= 0.9)
        .select("doc_a", "doc_b", _rnd(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash (dedup family, SURVEY §7.1 step 7; library twin: text/dedup.py)
# ---------------------------------------------------------------------------

_SIM_SQL = _sim_sql()


@q("simhash_fingerprint", f"SELECT doc_id, simhash16 FROM ({_SIM_SQL})")
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: per token a 60-bit md5-sliced hash; per bit j,
    sum(±1) over tokens; fingerprint bit j = sign of the sum. Near-dups then
    differ in few bits. One explode + one groupBy with 16 conditional sums —
    all codegen'd; the shuffle carries (doc_id, 16 ints), never text. The
    64-bit production variant (xxhash64) is text/dedup.py::simhash; this
    16-bit md5 build (text/dedup.py::md5_simhash) exists so the whole
    fingerprint is oracle-checkable."""
    from pharmacodi_spark.text.dedup import md5_simhash

    return md5_simhash(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("simhash").alias("simhash16")
    )


@q(
    "simhash_near_pairs",
    f"""
    WITH sim AS ({_SIM_SQL}),
    b AS (SELECT doc_id, simhash16, simhash16 // 256 AS bucket FROM sim)
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash16, b2.simhash16)) AS BIGINT) AS hamming
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.simhash16, b2.simhash16)) <= 3
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: bucket by the top 8 fingerprint bits
    (near-dups share the prefix with high probability), exact Hamming filter
    via bit_count(a XOR b) ≤ 3 within buckets.

    Runs through the library's capped path (text/dedup.py::
    simhash_near_pairs with max_cell_size=256): sign-of-sum prefixes are
    BIASED, so prefix buckets skew hard — the sf1 probe measured one bucket
    holding 2,405 of 50k docs, i.e. ~2.9M pair checks and a 2,405-element
    collect_list in ONE task under the old array expansion (7.1x sf0.1→sf1
    wall-clock, BENCH r5). The triangle-block re-split spreads that bucket
    over s(s+1)/2 bounded join tasks with the IDENTICAL pair set, so this
    oracle row also exercises the guard on naturally-skewed buckets."""
    from pharmacodi_spark.text.dedup import md5_simhash, simhash_near_pairs as _snp

    sim = md5_simhash(_t(spark, sf_dir, "documents"))
    out = _snp(
        sim, max_hamming=3, prefix_bits=8, bits=16, max_cell_size=256
    )
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Near-dup clusters → keeper drop-list (VERDICT r1 item 5)
# ---------------------------------------------------------------------------


@q(
    "near_dup_droplist",
    """
    WITH RECURSIVE edges0 AS (
      SELECT d.doc_id AS u, d.doc_id + 1 AS v
      FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
      WHERE (d.doc_id + 1) % 5 != 0
        AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 != 0
    ),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id, component, component = node AS keep FROM comp
    """,
)
def near_dup_droplist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → connected components → keeper drop-list
    (text/clusters.py): iterative hash-min label propagation over a
    deterministic fixture graph (chain edges within groups of 5 doc_ids,
    ~25% knocked out by an md5 predicate → varied component shapes:
    chains, split chains, singletons). The DuckDB oracle re-derives the
    components with a recursive CTE (min reachable label), so the Spark
    loop's convergence — not just its output shape — is value-checked.
    In production the edge list is minhash_near_dup_pairs/simhash output."""
    from pharmacodi_spark.text.clusters import near_dup_droplist

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    nxt = (F.col("doc_id") + 1).alias("v")
    knock = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 4 != 0
    )
    pairs = (
        ids.select("doc_id", nxt)
        .where((F.col("v") % 5 != 0) & knock)
        .join(ids.select(F.col("doc_id").alias("v")), "v")
        .select(F.col("doc_id").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    return near_dup_droplist(ids, pairs, edges_canonical=True)


# ---------------------------------------------------------------------------
# Fuzzy dedup end-to-end: minhash → LSH pairs → clusters → keeper drop-list
# ---------------------------------------------------------------------------


@q(
    "fuzzy_dedup_pipeline",
    """
    WITH RECURSIVE sig AS (
      SELECT doc_id,
             min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
             min(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
             min(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
             min(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
      FROM (
        SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      )
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    ),
    pairs0 AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT u, v FROM pairs0 UNION SELECT v, u FROM pairs0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id, component, component = node AS keep FROM comp
    """,
)
def fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete fuzzy-dedup path a training-data pipeline runs, in one
    oracle-gated composition: 5-gram shingles → md5-sliced MinHash (k=4) →
    LSH banding → bucket-local candidate pairs (text/dedup.py::
    md5_band_pairs, the minhash_band_pairs plan) → iterative connected
    components → min-id keeper per cluster, singletons keeping themselves
    (text/clusters.py::near_dup_droplist). Filter keep=false for the drop
    list; the DuckDB oracle re-derives every stage including the
    transitive closure."""
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.dedup import md5_band_pairs, md5_signature

    d = _t(spark, sf_dir, "documents")
    pairs = md5_band_pairs(md5_signature(d))
    return near_dup_droplist(d.select("doc_id"), pairs, edges_canonical=True)


@q(
    "incremental_dedup",
    """
    WITH corpus AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250),
    new AS (SELECT * FROM documents WHERE doc_id >= 250),
    self_dedup AS (
      SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
               md5(text) AS h
        FROM new
      ) WHERE rn = 1 AND h NOT IN (SELECT h FROM corpus)
    )
    SELECT doc_id, lang, source FROM self_dedup
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (text/incremental.py): the daily-ingest path —
    corpus keeps only its content-hash index (doc_id < 250 here); the new
    batch (doc_id ≥ 250) self-dedupes (min id per content wins) then
    anti-joins the index. Corpus text is never re-read; shuffles carry
    32-byte hashes. The LSH-bucket incremental variant
    (incremental_near_dup_flags) is pytest-covered — xxhash64 band cells
    have no DuckDB twin."""
    from pharmacodi_spark.text.incremental import (
        content_hashes,
        incremental_exact_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") < 250)
    new = d.where(F.col("doc_id") >= 250)
    out = incremental_exact_dedup(new, content_hashes(corpus))
    return out.select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Ingest pipeline E2E (library twin: pipelines/ingest.py::dedup_batch)
# ---------------------------------------------------------------------------

_ING_SHINGLES = """
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}))
"""

_ING_SIG = """
      SELECT doc_id,
             min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
             min(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
             min(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
             min(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
      FROM ({sh})
      GROUP BY doc_id
"""


@q(
    "ingest_pipeline",
    f"""
    WITH RECURSIVE
    corpus AS (SELECT * FROM documents WHERE doc_id < 250),
    new AS (SELECT * FROM documents WHERE doc_id >= 250),
    ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    s1 AS (
      SELECT doc_id, text, lang, source FROM (
        SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM new d)
      WHERE rn = 1 AND md5(text) NOT IN (SELECT h FROM ch)
    ),
    sig1 AS ({_ING_SIG.format(sh=_ING_SHINGLES.format(src='s1'))}),
    cells1 AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig1
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig1
    ),
    sigc AS ({_ING_SIG.format(sh=_ING_SHINGLES.format(src='corpus'))}),
    cellsc AS (
      SELECT DISTINCT band, v1, v2 FROM (
        SELECT 0 AS band, h0 AS v1, h1 AS v2 FROM sigc
        UNION ALL
        SELECT 1 AS band, h2 AS v1, h3 AS v2 FROM sigc)
    ),
    pairs0 AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM cells1 a JOIN cells1 b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT u, v FROM pairs0 UNION SELECT v, u FROM pairs0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM s1
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    s2 AS (
      SELECT s1.* FROM s1
      JOIN comp ON s1.doc_id = comp.node AND comp.component = s1.doc_id
    ),
    flagged AS (
      SELECT DISTINCT c.doc_id
      FROM cells1 c JOIN cellsc x
        ON c.band = x.band AND c.v1 = x.v1 AND c.v2 = x.v2
    )
    SELECT doc_id, lang, source FROM s2
    WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
)
def ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ingest dedup gauntlet E2E (pipelines/ingest.py::
    dedup_batch), oracle-checked as ONE cascade: corpus = doc_id < 250 with
    its content-hash + LSH-cell indices; new batch = doc_id ≥ 250 goes
    through (1) exact self-dedup + hash-index anti-join, (2) within-batch
    LSH band pairs → connected components → min-id droplist, (3) drop of
    docs whose any band lands in an occupied corpus cell. md5-parity k=4
    signature (2 bands × 2 rows) so every stage — including the iterative
    component labelling — is value-checked against the recursive-CTE
    oracle. The library path (xxhash64 cells, 16 hashes) + streaming upsert
    composition is pytest-proven in tests/test_ingest_pipeline.py."""
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.dedup import (
        md5_band_cells,
        md5_signature,
        pairs_from_cells,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") < 250)
    new = d.where(F.col("doc_id") >= 250)

    # 1. exact: min-id keeper per content, then corpus hash-index anti-join
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s1 = (
        new.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .join(
            corpus.select(F.md5("text").alias("h")).distinct(),
            F.md5(F.col("text")) == F.col("h"),
            "left_anti",
        )
    )

    # 2. within-batch near-dup: bucket-local pair expansion → CC → keeper
    c1 = md5_band_cells(md5_signature(s1))
    pairs = pairs_from_cells(c1)
    keep = near_dup_droplist(
        s1.select("doc_id"), pairs, edges_canonical=True
    )
    # the droplist side derives from barrier-pinned RDD scans (no stats),
    # so the planner falls back to sort-merge for both semi-joins against
    # it — hint shuffle_hash (guide §3.1: hash build of the smaller keeper
    # set per partition, no sort of either side; scale-safe where a
    # broadcast of the survivor set would not be)
    s2 = s1.join(
        keep.where(F.col("keep")).select("doc_id").hint("shuffle_hash"),
        "doc_id",
        "left_semi",
    )

    # 3. cross-corpus candidates: any band in an occupied corpus cell.
    # s2 ⊆ s1 and signatures depend only on text, so s2's cells are s1's
    # cells semi-joined by the surviving ids — no third signature pass
    corpus_cells = md5_band_cells(md5_signature(corpus)).select(
        "band", "bucket"
    ).distinct()
    flagged = (
        c1.join(s2.select("doc_id").hint("shuffle_hash"), "doc_id", "left_semi")
        .join(corpus_cells, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return s2.join(flagged, "doc_id", "left_anti").select("doc_id", "lang", "source")


@q(
    "contamination_safe_split",
    """
    WITH RECURSIVE edges0 AS (
      SELECT d.doc_id AS u, d.doc_id + 1 AS v
      FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
      WHERE (d.doc_id + 1) % 5 != 0
        AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 != 0
    ),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    bucketed AS (
      SELECT node AS doc_id, component,
             CAST(('0x' || substr(md5('split' || CAST(component AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10000 AS b
      FROM comp
    )
    SELECT doc_id, CAST(component AS BIGINT) AS component,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
    FROM bucketed
    """,
)
def contamination_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated train/val/test assignment (text/clusters.py::
    contamination_safe_splits): components over the deterministic fixture
    pair graph (same chain-with-knockouts as near_dup_droplist), then an
    80/10/10 hash-band on the COMPONENT id — the oracle re-derives the
    closure recursively and the band arithmetic exactly, certifying that
    cluster members always land in the same split."""
    from pharmacodi_spark.text.clusters import contamination_safe_splits

    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    nxt = (F.col("doc_id") + 1).alias("v")
    knock = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 4 != 0
    )
    pairs = (
        ids.select("doc_id", nxt)
        .where((F.col("v") % 5 != 0) & knock)
        .join(ids.select(F.col("doc_id").alias("v")), "v")
        .select(F.col("doc_id").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    splits = contamination_safe_splits(
        ids, pairs, [0.8, 0.1, 0.1], edges_canonical=True
    )
    labeled = [
        s.select("doc_id", F.col("component").cast("long").alias("component"),
                 F.lit(name).alias("split"))
        for s, name in zip(splits, ["train", "val", "test"])
    ]
    out = labeled[0]
    for nxt_df in labeled[1:]:
        out = out.unionByName(nxt_df)
    return out


@q(
    "passage_dedup",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, CAST(floor((len(toks) - 1) / 16.0) AS BIGINT)),
               i -> md5(array_to_string(toks[i * 16 + 1 : i * 16 + 16], ' '))
             )) AS h
      FROM t WHERE len(toks) > 0
    ),
    cnt AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
    per AS (
      SELECT ch.doc_id, count(*) AS n_passages,
             sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM ch JOIN cnt USING (h) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(n_passages, 0) AS BIGINT) AS n_passages,
           CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_passages,
           CASE WHEN coalesce(n_passages, 0) > 0
                THEN CAST(coalesce(n_dup, 0) AS DOUBLE) / n_passages
                ELSE 0.0 END AS dup_frac,
           (2 * coalesce(n_dup, 0) <= coalesce(n_passages, 0)) AS keep
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-doc passage dedup (text/dedup.py::
    passage_dedup_stats, 16-token passages): passages repeated in ≥2
    distinct documents are shared boilerplate; docs more than half made
    of them are dropped (integer cross-multiplied keep gate).  Passages
    are built narrowly from the token array (no explode before the hash
    exists); only (id, hash) rows shuffle."""
    from pharmacodi_spark.text.dedup import passage_dedup_stats

    d = _t(spark, sf_dir, "documents")
    return passage_dedup_stats(d, window=16)


@q(
    "minhash_jaccard_est",
    """
    WITH sh AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents))
    ),
    sig AS (
      SELECT doc_id,
             min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
             min(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
             min(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
             min(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
      WHERE a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT AS BIGINT)
             AS n_equal,
           CAST((((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                  + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT)
                 * 1000000) // 4 AS BIGINT) AS est_ppm
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    """,
)
def minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimation over the LSH candidate pairs
    (text/dedup.py::estimate_jaccard): the referee between candidate
    generation and exact verification — Ĵ = matching signature components
    / k, as integer ppm. The signature is computed ONCE and
    stage-barrier-pinned (metadata-scale: id + k longs), then feeds both
    the band-bucket pair expansion and the two estimator joins — the lazy
    alternative re-runs the shingle+md5 subplan three times."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.dedup import (
        estimate_jaccard,
        md5_band_cells,
        md5_signature,
        pairs_from_cells,
    )

    d = _t(spark, sf_dir, "documents")
    sig = stage_barrier(md5_signature(d), name="jacc-sig")
    pairs = pairs_from_cells(md5_band_cells(sig))
    return estimate_jaccard(sig, pairs, num_hashes=4)


@q(
    "dedup_attribution",
    """
    WITH k AS (
      SELECT source, doc_id,
             md5(array_to_string(
               list_filter(string_split(text, ' '), x -> x <> '')[1:20],
               ' ')) AS h
      FROM documents
    ),
    f AS (
      SELECT source,
             (row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1)
               AS keep
      FROM k
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS rows_in,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_kept,
           CAST(((count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))
                 * 1000000) // count(*) AS BIGINT) AS dup_ppm
    FROM f GROUP BY 1
    """,
)
def dedup_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup attribution (text/dedup.py::dedup_attribution):
    the funnel row per origin — rows_in/rows_kept/dup_ppm under the
    min-id keeper, here keyed on the 20-token leading-passage prefix
    (news-style title dedup). Only (source, id, 32-byte hash) shuffles;
    the rollup aggregate is domain-cardinality."""
    from pharmacodi_spark.text.dedup import dedup_attribution

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    prefix = F.array_join(F.slice(toks, 1, 20), " ")
    return dedup_attribution(d, key=prefix)


# ---------------------------------------------------------------------------
# Corpus-level source overlap (text/dedup.py::source_overlap_minhash)
# ---------------------------------------------------------------------------

_SO_K = 32
# one md5 per shingle; seeds h_i = (g1 + i*g2) mod 2^32 (Kirsch-Mitzenmacher)
_SO_DIGESTS = (
    ",\n             CAST(('0x' || substr(m, 1, 8)) AS BIGINT) AS g1"
    ",\n             CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS g2"
)
_SO_MINS = ",\n             ".join(
    f"min((g1 + {i} * g2) % 4294967296) AS h{i}" for i in range(_SO_K)
)
_SO_MATCH = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_SO_K)
)


@q(
    "source_overlap_minhash",
    f"""
    WITH sh AS (
      SELECT source, array_to_string(toks[i:i+4], ' ') AS sh
      FROM (SELECT source, toks,
                   unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
            FROM (SELECT source, string_split(text, ' ') AS toks
                  FROM documents))
    ),
    d AS (
      SELECT source{_SO_DIGESTS}
      FROM (SELECT source, md5('so:' || sh) AS m FROM sh)
    ),
    sig AS (
      SELECT source,
             {_SO_MINS}
      FROM d GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST({_SO_MATCH} AS BIGINT) AS matching_seeds,
           CAST((({_SO_MATCH}) * 1000000) // {_SO_K} AS BIGINT)
             AS est_jaccard_ppm
    FROM sig a JOIN sig b ON a.source < b.source
    """,
)
def source_overlap_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair overlap matrix (text/dedup.py::source_overlap_minhash):
    MinHash-estimated Jaccard between the shingle sets of every origin
    pair — the mirror detector. One fact-scale stage (shingle explode →
    map-side-collapsing k-min aggregate keyed by source); the pair matrix
    runs on the groups × k metadata table."""
    from pharmacodi_spark.text.dedup import source_overlap_minhash

    d = _t(spark, sf_dir, "documents")
    return source_overlap_minhash(d, num_hashes=_SO_K)


# ---------------------------------------------------------------------------
# Dedup observability: cluster-size distribution
# ---------------------------------------------------------------------------


@q(
    "dup_cluster_histogram",
    """
    WITH RECURSIVE edges0 AS (
      SELECT d.doc_id AS u, d.doc_id + 1 AS v
      FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
      WHERE (d.doc_id + 1) % 5 != 0
        AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 4 != 0
    ),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """,
)
def dup_cluster_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (text/clusters.py::
    dup_cluster_histogram): CC over the deterministic fixture graph (the
    near_dup_droplist chain fixture) rolled into (cluster_size,
    n_clusters, n_docs) — separates "many mirrored pairs" from "one
    boilerplate storm" and sizes the triangle-block cap. n_docs sums to
    the corpus (singletons are size-1 rows). The oracle re-derives the
    histogram through the recursive-CTE closure."""
    from pharmacodi_spark.text.clusters import dup_cluster_histogram

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    nxt = (F.col("doc_id") + 1).alias("v")
    knock = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 4 != 0
    )
    pairs = (
        ids.select("doc_id", nxt)
        .where((F.col("v") % 5 != 0) & knock)
        .join(ids.select(F.col("doc_id").alias("v")), "v")
        .select(F.col("doc_id").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    return dup_cluster_histogram(ids, pairs, edges_canonical=True)


# ---------------------------------------------------------------------------
# Corpus snapshot diff (text/incremental.py::corpus_diff)
# ---------------------------------------------------------------------------


@q(
    "corpus_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 != 3
    ),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 2 THEN text || ' v2' ELSE text END)
               AS h
      FROM documents WHERE doc_id % 17 != 5
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.h IS NULL THEN 'added'
                WHEN new.h IS NULL THEN 'removed'
                WHEN old.h = new.h THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new USING (doc_id)
    """,
)
def corpus_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl snapshot diff (text/incremental.py::corpus_diff):
    added/removed/changed/unchanged per id from two fixture-derived
    snapshot views (old misses doc_id%11=3; new rewrites doc_id%13=2 and
    drops doc_id%17=5). Both sides collapse to (id, 32-byte hash) at the
    scan; one id-keyed full-outer fact⋈fact join; bodies never shuffle.
    Feed added ∪ changed to the ingest gauntlet, retire removed from the
    index sidecars."""
    from pharmacodi_spark.text.incremental import corpus_diff

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 11 != 3)
    new = d.where(F.col("doc_id") % 17 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


# ---------------------------------------------------------------------------
# Quality-aware dedup keeper (text/dedup.py::exact_dedup(keeper_order=...))
# ---------------------------------------------------------------------------


@q(
    "exact_dedup_quality_keeper",
    """
    WITH k AS (
      SELECT doc_id, source, n_chars,
             md5(array_to_string(
               list_filter(string_split(text, ' '), x -> x <> '')[1:20],
               ' ')) AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY h
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM k
    )
    SELECT doc_id, source, n_chars FROM r WHERE rn = 1
    """,
)
def exact_dedup_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper (text/dedup.py::exact_dedup with
    keeper_order): among documents sharing a 20-token leading-passage
    key, keep the LONGEST (ties → lower id) instead of the first-seen —
    the keeper policy real pipelines prefer (the longest duplicate
    usually carries the full article; the short ones are truncations).
    Same hash-keyed shuffle as the min-id path, different window order."""
    from pharmacodi_spark.text.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    keyed = d.withColumn("__pk", F.array_join(F.slice(toks, 1, 20), " "))
    out = exact_dedup(
        keyed,
        content_col="__pk",
        keeper_order=[F.desc("n_chars"), F.col("doc_id")],
    )
    return out.select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# Soft dedup loss weights (text/dedup.py::soft_dedup_weights)
# ---------------------------------------------------------------------------


@q(
    "soft_dedup_weights",
    """
    WITH c AS (SELECT doc_id, md5(text) AS h FROM documents),
    s AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS m FROM c)
    SELECT doc_id,
           CAST(m AS BIGINT) AS cluster_size,
           CAST(1000000 // m AS BIGINT) AS weight_ppm
    FROM s
    """,
)
def soft_dedup_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-cluster-size loss weights
    (text/dedup.py::soft_dedup_weights): the soft alternative to hard
    dedup — duplicate content keeps constant total gradient mass instead
    of being dropped. One hash projection + one COUNT OVER partitioned by
    the content hash; bodies never shuffle."""
    from pharmacodi_spark.text.dedup import soft_dedup_weights

    d = _t(spark, sf_dir, "documents")
    return soft_dedup_weights(d)


# ---------------------------------------------------------------------------
# Wide (60-bit) SimHash near-dup pairs — retiring the 16-bit saturation
# caveat the r11 detector_agreement root-cause documented
# ---------------------------------------------------------------------------

_SIMW_BITS = 60  # the md5 15-hex-char slice budget
_SIMW_PREFIX = 8
_SIMW_HAMMING = 3


def _simhash_wide_sql() -> str:
    shift = 1 << (_SIMW_BITS - _SIMW_PREFIX)
    return f"""
    WITH sim AS ({_sim_sql(_SIMW_BITS, "fp")}),
    b AS (SELECT doc_id, fp, fp // {shift} AS bucket FROM sim)
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS hamming
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.fp, b2.fp)) <= {_SIMW_HAMMING}
    """


@q("simhash_wide_pairs", _simhash_wide_sql())
def simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from 60-bit SimHash fingerprints — the
    PRODUCTION width. The r11 detector_agreement root-cause measured the
    16-bit oracle variant saturating its fingerprint space at 50k docs
    (65,536 values → hamming ≤ 3 pair mass grew 21× for 10× docs); at 60
    bits the space is 2^60, collision mass tracks true near-duplicates at
    any realistic corpus size. Same machinery, just wide:
    text/dedup.py::md5_simhash (md5-sliced token hashes, per-bit ±1
    majority) at bits=60 feeding text/dedup.py::simhash_near_pairs
    (top-8-bit prefix blocking, exact bit_count(xor) Hamming referee,
    triangle hot-bucket guard at 256).

    Scale shape: one explode + one (doc, 60-sum) aggregate (map-side
    combining), then bucket-local pair expansion — fingerprints are the
    only thing that shuffles; 100 TB stores them partitioned by the
    prefix bucket so pair generation is partition-local. The oracle runs
    the identical 60-bit majority + prefix-join + popcount cascade."""
    from pharmacodi_spark.text.dedup import md5_simhash, simhash_near_pairs

    d = _t(spark, sf_dir, "documents")
    sim = md5_simhash(d, bits=_SIMW_BITS)
    return simhash_near_pairs(
        sim,
        max_hamming=_SIMW_HAMMING,
        prefix_bits=_SIMW_PREFIX,
        bits=_SIMW_BITS,
        max_cell_size=256,
    ).select(
        "doc_a",
        "doc_b",
        F.col("hamming").cast("long").alias("hamming"),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood candidate pairs (round 12): the sort-order
# complement to hash blocking — linear candidate mass by construction
# ---------------------------------------------------------------------------


@q(
    "snm_candidate_pairs",
    """
    WITH k AS (
      SELECT doc_id, substr(text, 1, 16) AS sk FROM documents
    ),
    p AS (
      SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS pos FROM k
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.pos - a.pos AS BIGINT) AS pos_gap
    FROM p a JOIN p b ON b.pos - a.pos BETWEEN 1 AND 2
    """,
)
def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs (text/dedup.py::
    sorted_neighborhood_pairs, r12 — Hernández & Stolfo SIGMOD'95): sort
    by the classic normalized-prefix key (first 16 chars) and emit rows
    within 2 positions. The sort-order complement to the LSH/SimHash
    bucket families: prefix-sharing near-dups that hash apart are
    adjacent here, and the candidate mass is EXACTLY (window−1)·n —
    linear by construction, the one blocking scheme with no hot-bucket
    quadratic term to guard.

    Scale shape: positions via surrogate_key (dense_global=True at fact
    scale: range-partition + broadcast offset fixup, no single-task
    window); then ONE position equi-join over (id, pos) tuples — bodies
    never shuffle; the window fan-out is a bounded constant."""
    from pharmacodi_spark.text.dedup import sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.substring("text", 1, 16).alias("sk")
    )
    return sorted_neighborhood_pairs(
        keyed, sort_key="sk", id_col="doc_id", window=3
    )

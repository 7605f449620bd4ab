package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.{Mtx, Synth}
import graft.extract.Extract
import graft.graph.{AdjacencyBuilder, VertexDict}
import graft.algo.{ConnectedComponents, ConnectedComponentsArray, LabelPropagation, LabelPropagationArray, PageRank, SpMV, SpmvLayouts, TriangleCount}
import graft.exec.{Gather, GatherStrategy, IterConfig}
import graft.operators.{Ann, Dedup, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline operators), with a DuckDB
  * oracle wherever the semantics are ANSI-SQL-expressible. Synthetic graph
  * queries regenerate their input closed-form on BOTH sides (Spark `range`
  * vs DuckDB `range`) so the oracle is end-to-end independent.
  *
  * Floating-point policy: values produced by identical scalar arithmetic are
  * left raw (bit-identical across engines); values produced by ORDER-VARYING
  * accumulation (sums, averages, PageRank) are rounded to a tolerance-safe
  * number of decimals on both sides (SURVEY.md §1.3.5).
  */
object SparkEntry {

  // ---- fixture scales (small: Verify runs at sf0.01 on local[4]) ----
  private val BAND_N = 2048L; private val BAND_L = 8
  private val SPMV_N = 2048L; private val SPMV_L = 8
  private val PR_N = 512L; private val PR_L = 8; private val PR_ITERS = 5
  private val CC_N = 600L; private val CC_B = 30L
  private val TRI_N = 512L; private val TRI_L = 6
  private val PAGES_N = 256L; private val PAGES_L = 6
  private val SKEW_N = 3000L
  private val SCAT_N = 4096L; private val SCAT_L = 16

  private def t(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Flagship: full link-graph pipeline on the synthetic page table —
    * pages -> extract text+links -> vertex dictionary -> edge table ->
    * PageRank -> top pages. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Synth.pages(spark, 128, 4)
    val links = pages.select(col("url").as("src_url"),
      explode(Extract.linksOf(col("html"))).as("dst_url"))
    val dict = VertexDict.fromUrls(
      pages.select("url").union(links.select(col("dst_url").as("url"))))
    val edges = VertexDict.resolve(links, dict)
    val pr = PageRank.run(spark, edges, dict.count(),
      cfg = IterConfig(tol = 1e-6, maxIter = 50)).state
    pr.join(dict, "id").orderBy(col("x").desc, col("url"))
      .select(col("url"), col("x").as("pagerank")).limit(20)
  }

  // ======================= SQL oracle builders =======================

  /** Band edge CTE — mirrors Synth.band. */
  private def sqlBand(n: Long, l: Int): String =
    s"""edges AS (
       |  SELECT i AS src, (CASE WHEN i >= $l THEN i - $l ELSE 0 END) + j AS dst,
       |         (((i*31 + ((CASE WHEN i >= $l THEN i - $l ELSE 0 END)+j)*17) % 1000) + 1) / 1000.0 AS w
       |  FROM range(0, $n) t(i), range(0, $l) u(j))""".stripMargin

  /** Scatter edge CTE — mirrors Synth.scatter (reference S4/S5 analog:
    * l random-distinct targets per vertex). */
  private def sqlScatter(n: Long, l: Int): String =
    s"""edges AS (
       |  SELECT src, dst, (((src*31 + dst*17) % 1000) + 1) / 1000.0 AS w
       |  FROM (SELECT i AS src,
       |               ((i*2654435761) % $n +
       |                j * (((i*40503 + 7) % ${n / 2}) * 2 + 1)) % $n AS dst
       |        FROM range(0, $n) t(i), range(0, $l) u(j)))""".stripMargin

  /** Skew edge CTE — mirrors Synth.skew. */
  private def sqlSkew(n: Long): String =
    s"""edges AS (
       |  SELECT DISTINCT src, dst,
       |         (((src*31 + dst*17) % 1000) + 1) / 1000.0 AS w
       |  FROM (SELECT i AS src, unnest([0, i//2, (i*7) % $n, (i*13+5) % $n]) AS dst
       |        FROM range(0, $n) t(i)))""".stripMargin

  /** Unrolled PageRank SQL (no dangling vertices in band graphs). */
  private def sqlPagerank(n: Long, l: Int, iters: Int, damping: Double): String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(sqlBand(n, l)).append(",\n")
    sb.append(s"norm AS (SELECT src, dst, w / (sum(w) OVER (PARTITION BY src)) AS p FROM edges),\n")
    sb.append(s"v AS (SELECT i AS id FROM range(0, $n) t(i)),\n")
    sb.append(s"x0 AS (SELECT id, 1.0/$n AS x FROM v)")
    for (k <- 1 to iters) {
      sb.append(s""",
        |x$k AS (
        |  SELECT v.id, (${1.0 - damping}/$n) + $damping * coalesce(g.s, 0) AS x
        |  FROM v LEFT JOIN (
        |    SELECT norm.dst AS id, sum(norm.p * x${k - 1}.x) AS s
        |    FROM norm JOIN x${k - 1} ON norm.src = x${k - 1}.id
        |    GROUP BY norm.dst) g USING (id))""".stripMargin)
    }
    sb.append(s"\nSELECT id, round(x, 10) AS x FROM x$iters ORDER BY id")
    sb.toString
  }

  /** Unrolled synchronous label-propagation SQL over the blocks graph —
    * mirrors LabelPropagation.run exactly: per iteration, each vertex adopts
    * the most frequent neighbor label over the SYMMETRIZED link set, ties
    * broken by the smallest label. Extra SQL iterations after the Spark
    * loop's no-change early stop are no-ops, so a fixed unroll is safe. */
  private def sqlLabelProp(n: Long, b: Long, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH chain AS (
      |  SELECT i AS src, i + 1 AS dst FROM range(0, ${n - 1}) t(i)
      |  WHERE (i + 1) % $b <> 0),
      |links AS (SELECT src, dst FROM chain
      |          UNION ALL SELECT dst AS src, src AS dst FROM chain),
      |v AS (SELECT i AS id FROM range(0, $n) t(i)),
      |x0 AS (SELECT id, id AS label FROM v)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |h$k AS (SELECT l.src, x.label AS nl, count(*) AS c
        |        FROM links l JOIN x${k - 1} x ON l.dst = x.id GROUP BY 1, 2),
        |w$k AS (SELECT src AS id, nl AS label FROM (
        |          SELECT src, nl, row_number() OVER (
        |            PARTITION BY src ORDER BY c DESC, nl ASC) AS rn FROM h$k)
        |        WHERE rn = 1),
        |x$k AS (SELECT p.id, coalesce(w.label, p.label) AS label
        |        FROM x${k - 1} p LEFT JOIN w$k w USING (id))""".stripMargin)
    }
    sb.append(s"\nSELECT id, label FROM x$iters ORDER BY id")
    sb.toString
  }

  /** Unrolled LP SQL over the hub-skewed generator (lp_skew_salted oracle):
    * identical round semantics to sqlLabelProp — symmetrized deduplicated
    * links, no self-loops, (count desc, label asc) argmax — over
    * Synth.skew's edge set. The Spark side counts per (vertex, label) and
    * takes a max per vertex over the hub's many label groups; the oracle
    * counts per vertex in one step, so a bug that miscounts any hub's
    * labels diverges here. */
  private def sqlLabelPropSkew(n: Long, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH ${sqlSkew(n)},
      |links AS (SELECT DISTINCT src, dst FROM (
      |            SELECT src, dst FROM edges WHERE src <> dst
      |            UNION ALL
      |            SELECT dst AS src, src AS dst FROM edges WHERE src <> dst)),
      |v AS (SELECT i AS id FROM range(0, $n) t(i)),
      |x0 AS (SELECT id, id AS label FROM v)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |h$k AS (SELECT l.src, x.label AS nl, count(*) AS c
        |        FROM links l JOIN x${k - 1} x ON l.dst = x.id GROUP BY 1, 2),
        |w$k AS (SELECT src AS id, nl AS label FROM (
        |          SELECT src, nl, row_number() OVER (
        |            PARTITION BY src ORDER BY c DESC, nl ASC) AS rn FROM h$k)
        |        WHERE rn = 1),
        |x$k AS (SELECT p.id, coalesce(w.label, p.label) AS label
        |        FROM x${k - 1} p LEFT JOIN w$k w USING (id))""".stripMargin)
    }
    sb.append(s"\nSELECT id, label FROM x$iters ORDER BY id")
    sb.toString
  }

  /** Shared CTE prefix replicating Ann's hyperplane-LSH signatures in SQL:
    * same closed-form plane hash (Ann.planeComponent), same sign-bit packing,
    * same corpus-size-derived bits (Ann.bitsFor) — the oracle reproduces the
    * BUCKETING exactly, so LSH misses match too. */
  private def sqlLshSigs(tables: Int): String =
    s"""q0 AS (SELECT ((SELECT count(*) FROM embeddings) + 63) // 64 AS q),
       |p AS (SELECT CAST(least(24, greatest(4,
       |  CASE WHEN q <= 1 THEN 0 ELSE length(bin(q - 1)) END)) AS BIGINT) AS bits
       |  FROM q0),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, emb, tt.t AS tbl,
       |    list_aggregate(list_transform(range(0, p.bits), q ->
       |      CASE WHEN list_aggregate(list_transform(range(1, len(emb) + 1), i ->
       |             emb[i] * (((((q + tt.t * p.bits) * 1009 + (i - 1) * 9176 + 917)
       |               * 2654435761) % 2001 + 2001) % 2001 - 1000) / 1000.0),
       |           'sum') >= 0
       |      THEN (CAST(1 AS BIGINT) << q) ELSE 0 END), 'sum') AS sig
       |  FROM e CROSS JOIN p CROSS JOIN (SELECT unnest(range(0, $tables)) AS t) tt)""".stripMargin

  /** SQL replica of Dedup.simhash: token bits from md5 (two 60-bit hex
    * slices of the digest — md5 exists on both sides, xxhash64 does not),
    * 64 conditional bit-sums, disjoint-bit assembly. Bit 63 is added as
    * min-long; with disjoint bits, + and bitwise-OR are identical, and the
    * non-negative partial sum of bits 0..62 (< 2^63) plus -2^63 never
    * overflows. Keep in sync with Dedup.simhash. */
  private def sqlSimhash: String = {
    val sums = (0 until 64).map { i =>
      val (h, s) = if (i < 60) ("h1", i) else ("h2", i - 60)
      s"SUM(CASE WHEN (($h >> $s) & 1) = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val terms = (0 until 64).map { i =>
      val v = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
      s"(CASE WHEN b$i > 0 THEN CAST($v AS BIGINT) ELSE 0 END)"
    }.mkString("\n    + ")
    s"""toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |                t -> len(t) > 0)) AS token
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(token), 1, 15))::BIGINT AS h1,
       |         ('0x' || substr(md5(token), 16, 15))::BIGINT AS h2
       |  FROM toks),
       |bits AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM h GROUP BY doc_id),
       |sh AS (
       |  SELECT doc_id,
       |    $terms AS simhash
       |  FROM bits)""".stripMargin
  }

  // =========================== queries ===========================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- S6: deterministic banded generator (the reference's only seeded source) ---
    "graph_band_edges" -> ((s, _) =>
      Synth.band(s, BAND_N, BAND_L).orderBy("src", "dst")),

    // --- S3: density-parameterized generator (deterministic analog) ---
    "graph_random_edges" -> ((s, _) =>
      Synth.randomDensity(s, 1024, 0.01).orderBy("src", "dst")),

    // --- S4/S5: const-degree random-distinct-target generator ---
    "graph_scatter_edges" -> ((s, _) =>
      Synth.scatter(s, SCAT_N, SCAT_L).orderBy("src", "dst")),

    // --- SpMV over the scatter graph: the gather reads x at l scattered
    // positions per row (the locality regime the band graph understresses) ---
    "graph_spmv_scatter" -> ((s, _) =>
      SpMV(Synth.scatter(s, SCAT_N, SCAT_L), Synth.state(s, SCAT_N),
          None, GatherStrategy.BroadcastState)
        .select(col("id"), round(col("x"), 6).as("flow")).orderBy("id")),

    // --- C2: transpose ---
    "graph_transpose" -> ((s, _) =>
      AdjacencyBuilder.transpose(Synth.band(s, BAND_N, BAND_L))
        .orderBy("src", "dst")),

    // --- C1: COO->CSR adjacency build (grouped, dst-sorted arrays).
    // Arrays serialized to CSV strings on BOTH sides: the driver's pandas
    // compare cannot hash ndarray cells. Weights are 3-decimal by
    // construction, so round(w*1000) is an exact integer — no float
    // formatting hazard in the string. ---
    "graph_adjacency" -> ((s, _) =>
      AdjacencyBuilder.outAdjacency(Synth.band(s, BAND_N, BAND_L))
        .select(col("src"),
          array_join(col("dsts"), ",").as("dsts"),
          array_join(transform(col("ws"),
            w => round(w * 1000).cast("long").cast("string")), ",").as("ws"))
        .orderBy("src")),

    // --- A5/A6: degree and skew statistics ---
    "graph_degrees" -> ((s, _) =>
      Synth.band(s, BAND_N, BAND_L).groupBy("src")
        .agg(count(lit(1)).as("degree"), round(sum("w"), 9).as("wsum"))
        .withColumnRenamed("src", "id").orderBy("id")),

    "graph_skew_stats" -> ((s, _) => {
      val deg = Synth.skew(s, SKEW_N).groupBy("src")
        .agg(count(lit(1)).as("degree"))
      deg.agg(
        count(lit(1)).as("vertices"),
        sum("degree").as("edges"),
        max("degree").as("max_degree"),
        round(avg("degree"), 6).as("avg_degree"),
        round(expr("percentile(degree, 0.5)"), 6).as("p50_degree"),
        round(expr("percentile(degree, 0.99)"), 6).as("p99_degree"))
    }),

    // --- S1/S2: MatrixMarket scan + symmetric expansion + normalize ---
    "mtx_scan" -> ((s, _) =>
      Mtx.fromLines(s, lfat5Mtx)._2.orderBy("src", "dst")),

    // --- S1/S2 on REAL committed SuiteSparse fixtures (input realism,
    // VERDICT r04 missing #1): Oberwolfach/LFAT5 (real symmetric — real
    // symmetric expansion) + Grund/b1_ss (real general), both shipped as
    // Matrix Market text in src/main/resources/graft/fixtures. These are
    // the SuiteSparse matrices the reference itself vendors
    // (/root/reference/lib/MMIO/data); its larger bench set (ldoor etc.,
    // /root/reference/runtimes/matricesWithELPACK.csv) is download-only
    // (scripts/getMatrices.sh) and this sandbox has no network. ---
    "mtx_real_scan" -> ((s, _) => {
      val lf = Mtx.fromLines(s, fixtureLines("LFAT5.mtx"))._2
        .withColumn("m", lit("lfat5"))
      val bs = Mtx.fromLines(s, fixtureLines("b1_ss.mtx"))._2
        .withColumn("m", lit("b1_ss"))
      lf.unionByName(bs).select("m", "src", "dst", "w").orderBy("m", "src", "dst")
    }),

    // --- K1/K2: the SpMV kernel (shuffle-join gather) ---
    "graph_spmv" -> ((s, _) =>
      SpMV(Synth.band(s, SPMV_N, SPMV_L), Synth.state(s, SPMV_N),
          Some(s.range(SPMV_N).toDF("id")), GatherStrategy.ShuffleJoin)
        .select(col("id"), round(col("x"), 6).as("flow")).orderBy("id")),

    // --- K6: broadcast-state gather (must equal K1) ---
    "graph_spmv_broadcast" -> ((s, _) =>
      SpMV(Synth.band(s, SPMV_N, SPMV_L), Synth.state(s, SPMV_N),
          Some(s.range(SPMV_N).toDF("id")), GatherStrategy.BroadcastState)
        .select(col("id"), round(col("x"), 6).as("flow")).orderBy("id")),

    // --- C3+K14: ELLPACK layout (global-max-width padding), row kernel ---
    "spmv_ellpack" -> ((s, _) =>
      SpmvLayouts.spmvOnce(s, Synth.band(s, SPMV_N, SPMV_L),
          Synth.state(s, SPMV_N), SPMV_N, SpmvLayouts.Ellpack,
          Some(s.range(SPMV_N).toDF("id")))
        .select(col("id"), round(col("x"), 6).as("flow")).orderBy("id")),

    // --- C4+K5/K12: transposed ELLPACK (column-major padded sweep) ---
    "spmv_ellpack_t" -> ((s, _) =>
      SpmvLayouts.spmvOnce(s, Synth.band(s, SPMV_N, SPMV_L),
          Synth.state(s, SPMV_N), SPMV_N, SpmvLayouts.EllpackT,
          Some(s.range(SPMV_N).toDF("id")))
        .select(col("id"), round(col("x"), 6).as("flow")).orderBy("id")),

    // --- C5+K15: dense layout (V^2), naive row dot product ---
    "spmv_dense" -> ((s, _) =>
      SpmvLayouts.spmvOnce(s, Synth.band(s, SPMV_N, SPMV_L),
          Synth.state(s, SPMV_N), SPMV_N, SpmvLayouts.Dense,
          Some(s.range(SPMV_N).toDF("id")))
        .select(col("id"), round(col("x"), 6).as("flow")).orderBy("id")),

    // --- north rule: PageRank (fixed 5 iterations to match unrolled SQL) ---
    "pagerank_band" -> ((s, _) =>
      PageRank.run(s, Synth.band(s, PR_N, PR_L), PR_N,
          cfg = IterConfig(tol = 0.0, maxIter = PR_ITERS))
        .state.select(col("id"), round(col("x"), 10).as("x")).orderBy("id")),

    // --- north rule: connected components (closed-form block oracle) ---
    "cc_blocks" -> ((s, _) =>
      ConnectedComponents.run(s, Synth.blocks(s, CC_N, CC_B), CC_N)
        .labels.orderBy("id")),

    // --- same CC semantics on the broadcast-array (min-semiring) kernel ---
    "cc_array" -> ((s, _) =>
      ConnectedComponentsArray.run(s, Synth.blocks(s, CC_N, CC_B), CC_N)
        .labels.orderBy("id")),

    // --- north rule: label propagation (deterministic argmax; unrolled
    // SQL oracle) ---
    "lp_blocks" -> ((s, _) =>
      LabelPropagation.run(s, Synth.blocks(s, CC_N, CC_B), CC_N, maxIter = 5,
        strategy = GatherStrategy.ShuffleJoin).labels.orderBy("id")),

    // --- same LP semantics on the broadcast-array (mode-semiring) kernel ---
    "lp_array" -> ((s, _) =>
      LabelPropagationArray.run(s, Synth.blocks(s, CC_N, CC_B), CC_N, maxIter = 5)
        .labels.orderBy("id")),

    // --- LP on the hub-skewed generator: the DataFrame rounds count per
    // (vertex, label), so no group holds a hub's whole neighbor-label
    // histogram; must be label-identical to the unrolled SQL oracle ---
    "lp_skew_salted" -> ((s, _) =>
      LabelPropagation.run(s, Synth.skew(s, SKEW_N), SKEW_N, maxIter = 3,
        strategy = GatherStrategy.ShuffleJoin).labels.orderBy("id")),

    // --- north rule: triangle counting ---
    "triangles_band" -> ((s, _) => {
      val n = TriangleCount.countTriangles(s, Synth.band(s, TRI_N, TRI_L))
      s.createDataFrame(Seq(Tuple1(n))).toDF("n_triangles")
    }),

    // --- per-vertex triangle participation (each corner credited once) ---
    "triangles_per_vertex" -> ((s, _) =>
      TriangleCount.perVertex(s, Synth.band(s, TRI_N, TRI_L))
        .orderBy("id")),

    // --- K11 analog: salted two-phase aggregation == plain aggregation ---
    "skew_salted_sum" -> ((s, _) =>
      Gather.sumSalted(Synth.skew(s, SKEW_N), "dst", col("w"), col("src"), 16)
        .select(col("dst"), round(col("sum"), 9).as("wsum")).orderBy("dst")),

    // --- page-table pipeline: extractor golden (byte-identical text) ---
    "pages_extract" -> ((s, _) =>
      Synth.pages(s, PAGES_N, PAGES_L)
        .select(col("url"), Extract.textOf(col("html")).as("text"))
        .orderBy("url")),

    // --- link extraction from html anchors ---
    "pages_links" -> ((s, _) =>
      Synth.pages(s, PAGES_N, PAGES_L)
        .select(col("url").as("src_url"),
          explode(Extract.linksOf(col("html"))).as("dst_url"))
        .orderBy("src_url", "dst_url")),

    // --- vertex dictionary: dense deterministic ids ---
    "vertex_dict" -> ((s, _) =>
      VertexDict.fromUrls(Synth.pages(s, PAGES_N, PAGES_L).select("url"))
        .orderBy("id")),

    // --- end-to-end: pages -> extract -> dict -> edge table ---
    "edges_from_pages" -> ((s, _) => {
      val pages = Synth.pages(s, PAGES_N, PAGES_L)
      val links = pages.select(col("url").as("src_url"),
        explode(Extract.linksOf(col("html"))).as("dst_url"))
      val dict = VertexDict.fromUrls(pages.select("url"))
      VertexDict.resolve(links, dict).orderBy("src", "dst")
    }),

    // --- dedup: exact ---
    "dedup_exact" -> ((s, sf) =>
      Dedup.exact(s.read.parquet(t(sf, "documents")), "doc_id", "text")
        .orderBy("doc_id")),

    // --- dedup: minhash+LSH near-dup pairs. The oracle computes EXACT
    // jaccard >= 0.5 over all pairs while the engine is approximate LSH
    // (k=32, bands=8, rows=4: detect prob 1-(1-j^4)^8, i.e. ~40% at
    // j=0.50 but >99.9% at j>=0.87); equality holds because the fixture's
    // dup pairs are high-jaccard — Round3Spec asserts that margin so a
    // near-threshold fixture change fails LOUDLY there, not here. ---
    "dedup_minhash" -> ((s, sf) =>
      Dedup.minhashPairs(s.read.parquet(t(sf, "documents")), "doc_id", "text",
          k = 32, bands = 8, threshold = 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b")),

    // --- dedup: simhash (md5-bit hash -> fully SQL-oracled) ---
    "dedup_simhash" -> ((s, sf) =>
      Dedup.simhash(s.read.parquet(t(sf, "documents")), "doc_id", "text")
        .orderBy("doc_id")),

    // --- dedup: exact n-gram jaccard similarity join ---
    "dedup_jaccard" -> ((s, sf) =>
      Dedup.jaccardPairs(s.read.parquet(t(sf, "documents")), "doc_id", "text",
          shingleWidth = 2, threshold = 0.3)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b")),

    // --- similarity search: brute-force cosine top-k (exact baseline) ---
    "ann_brute_topk" -> ((s, sf) => {
      val emb = s.read.parquet(t(sf, "embeddings"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // --- similarity search: LSH-bucketed approximate top-k (scale path).
    // bits derived from corpus size (Ann.bitsFor): a fixed bits is a
    // bucket-cardinality scale hazard — see Ann.scala. ---
    "ann_lsh_topk" -> ((s, sf) => {
      val emb = s.read.parquet(t(sf, "embeddings"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.lshTopK(emb, queries, 5, bits = Ann.bitsFor(emb.count()), tables = 8)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // --- dedup: embedding-cosine near-dup pairs (corpus-sized bits) ---
    "dedup_cosine" -> ((s, sf) => {
      val emb = s.read.parquet(t(sf, "embeddings"))
      Ann.cosineNearDupPairs(emb, 0.45, bits = Ann.bitsFor(emb.count()))
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("a", "b")
    }),

    // --- text analysis: token counts (SQL-expressible) ---
    "text_token_count" -> ((s, sf) =>
      s.read.parquet(t(sf, "documents"))
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),

    // --- text analysis: character-class stats ---
    "text_stats" -> ((s, sf) => {
      val d = s.read.parquet(t(sf, "documents"))
      val len = length(col("text")).cast("double")
      d.select(col("doc_id"),
        length(col("text")).as("n_chars"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(length(regexp_replace(col("text"), "[^A-Za-z]", "")) / greatest(len, lit(1.0)), 6).as("alpha_ratio"),
        round(length(regexp_replace(col("text"), "[^.,;:!?]", "")) / greatest(len, lit(1.0)), 6).as("punct_ratio"))
        .orderBy("doc_id")
    }),

    // --- text analysis: language id + quality (the fingerprint keeps its
    // own query/oracle row below) ---
    "text_analyze" -> ((s, sf) =>
      TextAnalysis.analyze(s.read.parquet(t(sf, "documents")), "doc_id", "text")
        .drop("fingerprint")
        .orderBy("doc_id")),

    // --- text analysis: rolling-hash document fingerprint (md5-chunk
    // Rabin-Karp mod 1e9+7 -> fully SQL-oracled) ---
    "text_fingerprint" -> ((s, sf) =>
      TextAnalysis.analyze(s.read.parquet(t(sf, "documents")), "doc_id", "text")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")),

    // --- relational coverage over the provided star schema ---
    "q1_agg" -> ((s, sf) =>
      s.read.parquet(t(sf, "lineitem"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q3_topk_join" -> ((s, sf) => {
      val c = s.read.parquet(t(sf, "customer")).filter(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(t(sf, "orders"))
      val l = s.read.parquet(t(sf, "lineitem"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }),

    "q_window_running" -> ((s, sf) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.read.parquet(t(sf, "orders"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_events_hourly" -> ((s, sf) =>
      s.read.parquet(t(sf, "events"))
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("h", "event_type")),

    // --- semi/anti joins ---
    "q_semi_anti" -> ((s, sf) => {
      val c = s.read.parquet(t(sf, "customer"))
      val o = s.read.parquet(t(sf, "orders"))
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi").count()
      val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti").count()
      s.createDataFrame(Seq((withO, withoutO))).toDF("with_orders", "without_orders")
    }),

    // --- rollup / grouping sets ---
    "q_rollup" -> ((s, sf) =>
      s.read.parquet(t(sf, "orders"))
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // --- multimodal: binary decode plumbing (stub codec, SURVEY-extra) ---
    "multimodal_stats" -> ((s, _) =>
      graft.operators.Multimodal.statsByKind(
        graft.operators.Multimodal.decodeMeta(
          graft.operators.Multimodal.synthesize(s, MEDIA_N))).orderBy("kind")),

    "multimodal_frames" -> ((s, _) =>
      graft.operators.Multimodal.sampleFrameFeatures(
          graft.operators.Multimodal.synthesize(s, MEDIA_N), stride = 2)
        .select(col("media_id"), col("frame"))
        .orderBy("media_id", "frame")))

  private val MEDIA_N = 300L

  // =========================== oracles ===========================

  def oracleSql: Map[String, String] = Map(
    "graph_band_edges" ->
      s"WITH ${sqlBand(BAND_N, BAND_L)} SELECT src, dst, w FROM edges ORDER BY src, dst",

    "graph_transpose" ->
      s"WITH ${sqlBand(BAND_N, BAND_L)} SELECT dst AS src, src AS dst, w FROM edges ORDER BY src, dst",

    "graph_random_edges" ->
      """WITH pairs AS (
        |  SELECT DISTINCT (k*2654435761) % 1024 AS src, (k*40503 + 7) % 1024 AS dst
        |  FROM range(0, 10485) t(k))
        |SELECT src, dst, (((src*31 + dst*17) % 1000) + 1) / 1000.0 AS w
        |FROM pairs ORDER BY src, dst""".stripMargin,

    "graph_scatter_edges" ->
      s"WITH ${sqlScatter(SCAT_N, SCAT_L)} SELECT src, dst, w FROM edges ORDER BY src, dst",

    "graph_spmv_scatter" ->
      s"""WITH ${sqlScatter(SCAT_N, SCAT_L)}
         |SELECT src AS id,
         |       round(sum(w * (((dst*13) % 1000) + 1) / 1000.0), 6) AS flow
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    "graph_adjacency" ->
      s"""WITH ${sqlBand(BAND_N, BAND_L)}
         |SELECT src,
         |       array_to_string(list(dst ORDER BY dst), ',') AS dsts,
         |       array_to_string(list(CAST(round(w * 1000) AS BIGINT) ORDER BY dst), ',') AS ws
         |FROM edges GROUP BY src ORDER BY src""".stripMargin,

    "graph_degrees" ->
      s"""WITH ${sqlBand(BAND_N, BAND_L)}
         |SELECT src AS id, count(*) AS degree, round(sum(w), 9) AS wsum
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    "graph_skew_stats" ->
      s"""WITH ${sqlSkew(SKEW_N)},
         |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
         |SELECT count(*) AS vertices, CAST(sum(degree) AS BIGINT) AS edges,
         |       max(degree) AS max_degree, round(avg(degree), 6) AS avg_degree,
         |       round(quantile_cont(degree, 0.5), 6) AS p50_degree,
         |       round(quantile_cont(degree, 0.99), 6) AS p99_degree
         |FROM deg""".stripMargin,

    "mtx_scan" ->
      """SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
        |       CAST(w AS DOUBLE) AS w
        |FROM (VALUES (0,0,1.1),(0,1,1.2),(0,4,5.1),(1,0,1.2),(1,3,2.4),
        |             (2,3,4.3),(2,4,3.5),(3,1,2.4),(3,2,4.3),(4,0,5.1),(4,2,3.5))
        |     t(src, dst, w)
        |ORDER BY src, dst""".stripMargin,

    "graph_spmv" ->
      s"""WITH ${sqlBand(SPMV_N, SPMV_L)}
         |SELECT src AS id,
         |       round(sum(w * (((dst*13) % 1000) + 1) / 1000.0), 6) AS flow
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    "graph_spmv_broadcast" ->
      s"""WITH ${sqlBand(SPMV_N, SPMV_L)}
         |SELECT src AS id,
         |       round(sum(w * (((dst*13) % 1000) + 1) / 1000.0), 6) AS flow
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    // the padded/dense layouts compute the SAME flow as the CSR kernels —
    // identical oracle, separate lanes so a layout bug fails by name
    "spmv_ellpack" ->
      s"""WITH ${sqlBand(SPMV_N, SPMV_L)}
         |SELECT src AS id,
         |       round(sum(w * (((dst*13) % 1000) + 1) / 1000.0), 6) AS flow
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    "spmv_ellpack_t" ->
      s"""WITH ${sqlBand(SPMV_N, SPMV_L)}
         |SELECT src AS id,
         |       round(sum(w * (((dst*13) % 1000) + 1) / 1000.0), 6) AS flow
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    "spmv_dense" ->
      s"""WITH ${sqlBand(SPMV_N, SPMV_L)}
         |SELECT src AS id,
         |       round(sum(w * (((dst*13) % 1000) + 1) / 1000.0), 6) AS flow
         |FROM edges GROUP BY src ORDER BY id""".stripMargin,

    "pagerank_band" -> sqlPagerank(PR_N, PR_L, PR_ITERS, 0.85),

    "cc_blocks" ->
      s"SELECT i AS id, (i // $CC_B) * $CC_B AS label FROM range(0, $CC_N) t(i) ORDER BY id",

    "cc_array" ->
      s"SELECT i AS id, (i // $CC_B) * $CC_B AS label FROM range(0, $CC_N) t(i) ORDER BY id",

    "lp_blocks" -> sqlLabelProp(CC_N, CC_B, 5),

    "lp_skew_salted" -> sqlLabelPropSkew(SKEW_N, 3),

    "lp_array" -> sqlLabelProp(CC_N, CC_B, 5),

    // the committed real fixtures, inlined: LFAT5 (symmetric -> off-diagonal
    // expansion in SQL) + b1_ss (general, as-is); 1-based -> 0-based
    "mtx_real_scan" ->
      """WITH lf(i,j,w) AS (VALUES
        |  (1,1,1.57088),(4,1,-94.2528),(5,1,0.78544),(2,2,1.25664e7),
        |  (6,2,-6.2832e6),(3,3,0.6088062015503876),(7,3,-0.3044031007751938),
        |  (4,4,15080.447999999997),(8,4,-7540.223999999998),(9,4,94.2528),
        |  (5,5,3.14176),(8,5,-94.2528),(9,5,0.78544),(6,6,1.25664e7),
        |  (10,6,-6.2832e6),(7,7,0.6088062015503876),(11,7,-0.3044031007751938),
        |  (8,8,15080.447999999997),(12,8,-7540.223999999998),(13,8,94.2528),
        |  (9,9,3.14176),(12,9,-94.2528),(13,9,0.78544),(10,10,1.25664e7),
        |  (11,11,0.6088062015503876),(12,12,15080.447999999997),
        |  (14,12,94.2528),(13,13,3.14176),(14,13,0.78544),(14,14,1.57088)),
        |bs(i,j,w) AS (VALUES
        |  (5,1,-0.03599942),(6,1,-0.0176371),(7,1,-0.007721779),(1,2,1),
        |  (2,2,-1),(1,3,1),(3,3,-1),(1,4,1),(4,4,-1),(2,5,0.45),(5,5,1),
        |  (3,6,0.1),(6,6,1),(4,7,0.45),(7,7,1)),
        |e AS (
        |  SELECT 'b1_ss' AS m, i-1 AS src, j-1 AS dst, w FROM bs
        |  UNION ALL SELECT 'lfat5', i-1, j-1, w FROM lf
        |  UNION ALL SELECT 'lfat5', j-1, i-1, w FROM lf WHERE i <> j)
        |SELECT m, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
        |       CAST(w AS DOUBLE) AS w
        |FROM e ORDER BY m, src, dst""".stripMargin,

    "triangles_band" ->
      s"""WITH ${sqlBand(TRI_N, TRI_L)},
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM edges WHERE src <> dst)
         |SELECT count(*) AS n_triangles
         |FROM und e1 JOIN und e2 ON e1.b = e2.a
         |     JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    "triangles_per_vertex" ->
      s"""WITH ${sqlBand(TRI_N, TRI_L)},
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM edges WHERE src <> dst),
         |tris AS (SELECT e1.a, e1.b, e2.b AS c
         |         FROM und e1 JOIN und e2 ON e1.b = e2.a
         |              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT id, count(*) AS triangles
         |FROM (SELECT unnest([a, b, c]) AS id FROM tris)
         |GROUP BY id ORDER BY id""".stripMargin,

    "skew_salted_sum" ->
      s"""WITH ${sqlSkew(SKEW_N)}
         |SELECT dst, round(sum(w), 9) AS wsum FROM edges
         |GROUP BY dst ORDER BY dst""".stripMargin,

    "pages_extract" ->
      s"""SELECT 'https://example.org/page/' || lpad(CAST(i AS VARCHAR), 8, '0') AS url,
         |  'Page ' || i || ' ' || $sqlVocab[(i % 12) + 1] || ' ' || $sqlVocab[(i % 7) + 1]
         |  || (CASE WHEN i % 7 = 0 THEN ' fox & dog' ELSE '' END) || ' end' AS text
         |FROM range(0, $PAGES_N) t(i) ORDER BY url""".stripMargin,

    "pages_links" ->
      s"""WITH ${sqlBand(PAGES_N, PAGES_L)}
         |SELECT 'https://example.org/page/' || lpad(CAST(src AS VARCHAR), 8, '0') AS src_url,
         |       'https://example.org/page/' || lpad(CAST(dst AS VARCHAR), 8, '0') AS dst_url
         |FROM edges ORDER BY src_url, dst_url""".stripMargin,

    "vertex_dict" ->
      s"""SELECT 'https://example.org/page/' || lpad(CAST(i AS VARCHAR), 8, '0') AS url,
         |       i AS id
         |FROM range(0, $PAGES_N) t(i) ORDER BY id""".stripMargin,

    "edges_from_pages" ->
      s"""WITH ${sqlBand(PAGES_N, PAGES_L)}
         |SELECT src, dst, 1.0 AS w FROM edges ORDER BY src, dst""".stripMargin,

    "dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
        |g AS (SELECT content_hash, count(*) AS group_size, min(doc_id) AS keep_id
        |      FROM h GROUP BY content_hash)
        |SELECT h.doc_id, h.content_hash, g.group_size, g.keep_id,
        |       h.doc_id <> g.keep_id AS is_duplicate
        |FROM h JOIN g USING (content_hash) ORDER BY doc_id""".stripMargin,

    // Exact brute-force pair jaccard (w=2 shingles) — mirrors
    // Dedup.jaccardPairs exactly at fixture scale (docfreq never exceeds the
    // maxDf=1000 stop-shingle cap with <=1000 docs, so the cap is a no-op).
    "dedup_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) = 0 THEN []::VARCHAR[] ELSE
        |           list_distinct(list_transform(
        |             range(1, greatest(len(tk) - 1, 1) + 1),
        |             i -> CASE WHEN i + 1 <= len(tk)
        |                       THEN tk[i] || ' ' || tk[i + 1]
        |                       ELSE tk[i] END))
        |         END AS sh
        |  FROM toks),
        |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM shl),
        |shared AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared,
        |         any_value(l.n) AS na, any_value(r.n) AS nb
        |  FROM ex l JOIN ex r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |       round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
        |FROM shared
        |WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.3
        |ORDER BY a, b""".stripMargin,

    "ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
        |           WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |         list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine
        |  FROM embeddings c, q),
        |ranked AS (
        |  SELECT query_id, vec_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_lsh_topk" ->
      s"""WITH ${sqlLshSigs(8)},
         |q AS (SELECT vec_id AS query_id, emb AS qemb, tbl, sig
         |      FROM sigs WHERE vec_id % 100 = 0),
         |cand AS (SELECT DISTINCT q.query_id, c.vec_id, c.emb, q.qemb
         |         FROM sigs c JOIN q ON c.tbl = q.tbl AND c.sig = q.sig),
         |scored AS (SELECT query_id, vec_id,
         |             list_cosine_similarity(emb, qemb) AS cosine FROM cand),
         |ranked AS (SELECT query_id, vec_id, cosine,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY cosine DESC, vec_id) AS rank FROM scored)
         |SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "dedup_cosine" ->
      s"""WITH ${sqlLshSigs(6)},
         |pairs AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
         |            l.emb AS ea, r.emb AS eb
         |          FROM sigs l JOIN sigs r
         |          ON l.tbl = r.tbl AND l.sig = r.sig AND l.vec_id < r.vec_id)
         |SELECT a, b, round(list_cosine_similarity(ea, eb), 6) AS cosine
         |FROM pairs WHERE list_cosine_similarity(ea, eb) >= 0.45
         |ORDER BY a, b""".stripMargin,

    "dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) = 0 THEN []::VARCHAR[] ELSE
        |           list_distinct(list_transform(
        |             range(1, greatest(len(tk) - 2, 1) + 1),
        |             i -> CASE WHEN i + 2 <= len(tk)
        |                       THEN tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
        |                       WHEN i + 1 <= len(tk)
        |                       THEN tk[i] || ' ' || tk[i + 1]
        |                       ELSE tk[i] END))
        |         END AS sh
        |  FROM toks),
        |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM shl),
        |shared AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared,
        |         any_value(l.n) AS na, any_value(r.n) AS nb
        |  FROM ex l JOIN ex r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |       round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
        |FROM shared
        |WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
        |ORDER BY a, b""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1.0), 6) AS alpha_ratio,
        |  round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / greatest(length(text), 1.0), 6) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.analyze (minus the xxhash64 fingerprint): same
    // stopword lists, same argmax tie-break (max score, tie -> max lang
    // string — hence the fr/es/en/de check order), same quality formula and
    // evaluation order.
    "text_analyze" ->
      """WITH t1 AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |t2 AS (
        |  SELECT doc_id, text, tk,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    CAST(coalesce(list_aggregate(list_transform(tk,
        |      w -> CAST(ceil(len(w) / 4.0) AS BIGINT)), 'sum'), 0) AS BIGINT) AS n_subwords,
        |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE CAST(len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS DOUBLE) / len(tk) END AS r_en,
        |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE CAST(len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','zu','ich'], t))) AS DOUBLE) / len(tk) END AS r_de,
        |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE CAST(len(list_filter(tk, t -> list_contains(['le','la','les','et','est','un','une','dans','que','pour'], t))) AS DOUBLE) / len(tk) END AS r_fr,
        |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE CAST(len(list_filter(tk, t -> list_contains(['el','la','los','y','es','un','una','en','que','por'], t))) AS DOUBLE) / len(tk) END AS r_es
        |  FROM t1),
        |t3 AS (
        |  SELECT doc_id, n_tokens, n_subwords, r_en, r_de, r_fr, r_es,
        |    greatest(r_en, r_de, r_fr, r_es) AS best,
        |    CAST(length(text) AS DOUBLE) AS tlen,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |         ELSE CAST(list_aggregate(list_transform(tk, w -> len(w)), 'sum') AS DOUBLE) / len(tk)
        |    END AS mean_word
        |  FROM t2)
        |SELECT doc_id, n_tokens, n_subwords,
        |  CASE WHEN best > 0 THEN
        |    (CASE WHEN r_fr = best THEN 'fr' WHEN r_es = best THEN 'es'
        |          WHEN r_en = best THEN 'en' ELSE 'de' END)
        |  ELSE 'und' END AS lang_pred,
        |  round(least(greatest(
        |    least(tlen / 200.0, 1.0) * 0.3 + alpha * 0.3
        |    + (CASE WHEN mean_word BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
        |    + (CASE WHEN punct <= 0.1 THEN 1.0
        |            ELSE greatest(0.0, 1.0 - punct * 5) END) * 0.2,
        |    0.0), 1.0), 6) AS quality
        |FROM t3 ORDER BY doc_id""".stripMargin,

    // md5-bit simhash replica (see sqlSimhash); token-less docs -> 0, same
    // as the engine's coalesce.
    "dedup_simhash" ->
      s"""WITH $sqlSimhash
         |SELECT d.doc_id, coalesce(sh.simhash, 0) AS simhash
         |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Rabin-Karp fingerprint replica: same normalize, same 64-char chunking,
    // same md5-60bit chunk values, same (acc*131 + h) % 1e9+7 fold.
    // list_reduce seeds with the first element == aggregate's first step
    // from acc=0 (0*131 + h0 = h0). Keep in sync with
    // TextAnalysis.fingerprint.
    "text_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, list_transform(
        |    range(0, greatest((length(norm) - 1) // 64, 0) + 1),
        |    i -> ('0x' || substr(md5(substr(norm, CAST(i * 64 + 1 AS INT), 64)),
        |          1, 15))::BIGINT % 1000000007) AS chunks
        |  FROM n)
        |SELECT doc_id,
        |       list_reduce(chunks, (a, b) -> (a * 131 + b) % 1000000007)
        |         AS fingerprint
        |FROM c ORDER BY doc_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk_join" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |     JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS h, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,

    "q_semi_anti" ->
      """SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS with_orders,
        |  (SELECT count(*) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_custkey = c.c_custkey)) AS without_orders""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "multimodal_stats" ->
      s"""WITH m AS (
         |  SELECT i, (['image','audio','video'])[(i % 3) + 1] AS kind,
         |         16 + (i % 7) * 16 AS width, 16 + (i % 5) * 16 AS height,
         |         CASE WHEN i % 3 = 2 THEN 1 + (i % 4) ELSE 1 END AS frames,
         |         49 AS size_bytes
         |  FROM range(0, $MEDIA_N) t(i))
         |SELECT kind, count(*) AS n, count(*) AS n_valid,
         |       CAST(max(width) AS INT) AS max_width,
         |       CAST(max(height) AS INT) AS max_height,
         |       CAST(sum(frames) AS BIGINT) AS total_frames,
         |       CAST(sum(size_bytes) AS BIGINT) AS total_bytes
         |FROM m GROUP BY kind ORDER BY kind""".stripMargin,

    "multimodal_frames" ->
      s"""SELECT i AS media_id, CAST(f AS INT) AS frame
         |FROM range(0, $MEDIA_N) t(i),
         |     unnest(range(0, CASE WHEN i % 3 = 2 THEN 1 + (i % 4) ELSE 1 END, 2)) u(f)
         |ORDER BY media_id, frame""".stripMargin)

  private val sqlVocab =
    "(['alpha','beta','gamma','delta','epsilon','zeta','eta','theta','iota','kappa','lambda','mu'])"

  /** Committed real-matrix fixture lines from the library classpath
    * (src/main/resources/graft/fixtures — SuiteSparse Matrix Market text;
    * provenance in the file headers). */
  private[graft] def fixtureLines(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
    require(in != null, s"missing classpath fixture /graft/fixtures/$name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** LFAT5-pattern fixture (FIXTURES.md §1; cf. /root/reference/test.mtx). */
  val lfat5Mtx: Seq[String] = Seq(
    "%%MatrixMarket matrix coordinate real symmetric",
    "5 5 6",
    "1 1 1.1",
    "2 1 1.2",
    "5 1 5.1",
    "4 2 2.4",
    "4 3 4.3",
    "5 3 3.5")
}

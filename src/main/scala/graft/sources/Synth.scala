package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic graph / page-table generators.
  *
  * Mirrors the reference's only reproducible source, the seed-42 banded CSR
  * generator (`/root/reference/perf_compare/perf_compare.cpp:387-417`): vertex
  * `i` links to the band `max(0, i-l) .. max(0, i-l)+l-1`. The reference's
  * other generators are nondeterministic (`std::random_device`,
  * `/root/reference/include/graphCOO.hpp:27-28`) — here everything is a pure
  * closed-form function of the vertex index so that (a) runs are reproducible,
  * (b) a DuckDB oracle can regenerate the identical table from SQL
  * `range()`, and (c) generation is a parallel `spark.range` with whole-stage
  * codegen — no driver-side loops, scales to any N.
  *
  * Weight formula (both Spark and DuckDB sides): for edge (s, d)
  *   w(s, d) = ((s*31 + d*17) % 1000 + 1) / 1000.0          in (0, 1]
  * Vertex-state formula (the reference's random `weights` vector,
  * `/root/reference/include/graphCOO.hpp:68-71`):
  *   x(i) = ((i*13) % 1000 + 1) / 1000.0
  */
object Synth {

  /** Closed-form edge weight — keep in sync with oracle SQL in SparkEntry. */
  def wCol(src: org.apache.spark.sql.Column, dst: org.apache.spark.sql.Column) =
    (((src * 31 + dst * 17) % 1000) + 1) / 1000.0

  /** Closed-form vertex state. */
  def xCol(id: org.apache.spark.sql.Column) = (((id * 13) % 1000) + 1) / 1000.0

  /** Banded graph: vertex i -> {base(i)..base(i)+l-1}, base(i)=max(0,i-l).
    * Exactly `l` out-edges per vertex, no dangling vertices, may include
    * self-loops (matches `/root/reference/perf_compare/perf_compare.cpp:396-417`). */
  def band(spark: SparkSession, n: Long, l: Int): DataFrame = {
    // flat range + integer div/mod, NOT explode(sequence(...)): sequence
    // allocates an l-element ArrayData per source vertex and explode walks
    // it — measurable allocation churn at 10^8+ edges, while this form is
    // pure whole-stage-codegen arithmetic (same rows, order irrelevant)
    spark.range(n * l)
      .select(expr(s"id div $l").as("src"), (col("id") % l).as("j"))
      .select(
        col("src"),
        (greatest(col("src") - l, lit(0L)) + col("j")).as("dst"))
      .select(col("src"), col("dst"), wCol(col("src"), col("dst")).as("w"))
  }

  /** Deterministic vertex-state vector for n vertices. */
  def state(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).toDF("id").select(col("id"), xCol(col("id")).as("x"))

  /** Disjoint-chain graph for connected components: chains of length b;
    * edge i -> i+1 unless i+1 is a block boundary. CC label of vertex i is
    * exactly (i / b) * b — a closed-form oracle. */
  def blocks(spark: SparkSession, n: Long, b: Long): DataFrame = {
    spark.range(n - 1).toDF("src")
      .filter((col("src") + 1) % b =!= 0)
      .select(col("src"), (col("src") + 1).as("dst"),
        wCol(col("src"), col("src") + 1).as("w"))
  }

  /** Scatter graph — the reference's const-degree generators drawn exactly
    * (S4/S5, `/root/reference/include/graphCOO.hpp:75-139`: every vertex gets
    * l RANDOM DISTINCT targets; the band generator matches the degree but
    * not the scattered target distribution, so it understresses the
    * broadcast kernel's gather locality — VERDICT r03 "What's missing #2").
    * Deterministic closed form, DuckDB-replicable:
    *   dst(i, j) = (h(i) + j * s(i)) mod n
    *   h(i) = (i * 2654435761) mod n                       (scattered start)
    *   s(i) = ((i * 40503 + 7) mod (n/2)) * 2 + 1          (odd stride)
    * An arithmetic progression with stride coprime to n yields l DISTINCT
    * targets; for power-of-two n (all bench shapes) every odd stride is
    * coprime, so distinctness is guaranteed whenever l <= n. */
  def scatter(spark: SparkSession, n: Long, l: Int): DataFrame = {
    require(l <= n, s"scatter needs l <= n, got l=$l n=$n")
    spark.range(n * l)
      .select(expr(s"id div $l").as("src"), (col("id") % l).as("j"))
      .select(col("src"),
        (((col("src") * 2654435761L) % n +
          col("j") * (((col("src") * 40503L + 7L) % (n / 2)) * 2L + 1L)) % n)
          .as("dst"))
      .select(col("src"), col("dst"), wCol(col("src"), col("dst")).as("w"))
  }

  /** Ring graph: i -> (i+1) mod n. PageRank is exactly uniform 1/n. */
  def ring(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).toDF("src")
      .select(col("src"), ((col("src") + 1) % n).as("dst"))
      .select(col("src"), col("dst"), wCol(col("src"), col("dst")).as("w"))

  /** Power-law-ish skew graph for salting tests: every vertex has 4 out-edges
    *   {0, i/2, (i*7) % n, (i*13 + 5) % n}
    * so vertex 0 has in-degree ~n (hub) and hotness decays geometrically via
    * the i/2 ancestor chain. (src,dst) pairs deduplicated.
    * Reference analog: the short-row/skew axis of the MULTIROW kernel
    * (`/root/reference/include/graphCSR.hpp:13-81`). */
  def skew(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).toDF("src")
    base.select(col("src"),
        explode(array(
          lit(0L),
          (col("src") / 2).cast("long"),
          (col("src") * 7) % n,
          (col("src") * 13 + 5) % n)).as("dst"))
      .dropDuplicates("src", "dst")
      .select(col("src"), col("dst"), wCol(col("src"), col("dst")).as("w"))
  }

  /** Density-parameterized random-ish graph (reference S3,
    * `/root/reference/include/graphCOO.hpp:39-73`: ⌊ρ·V²⌋ uniform edges,
    * dedup'd). The reference draws from a nondeterministic random_device; we
    * use multiplicative hashing of the edge index k — deterministic, DuckDB-
    * reproducible, and uniform enough for layout purposes:
    *   src(k) = (k·2654435761) % n,  dst(k) = (k·40503 + 7) % n. */
  def randomDensity(spark: SparkSession, n: Long, rho: Double): DataFrame = {
    val m = math.max(1L, (rho * n * n).toLong)
    spark.range(m).toDF("k")
      .select(((col("k") * 2654435761L) % n).as("src"),
        ((col("k") * 40503L + 7L) % n).as("dst"))
      .dropDuplicates("src", "dst")
      .select(col("src"), col("dst"), wCol(col("src"), col("dst")).as("w"))
  }

  /** url of page i — keep in sync with oracle SQL. */
  def urlCol(id: org.apache.spark.sql.Column) =
    format_string("https://example.org/page/%08d", id)

  /** Deterministic page body text of page i. Single-spaced tokens, fixed
    * vocabulary, an `&` character every 7th page (exercises entity decoding).
    * The generator emits BOTH this `text` and an `html` whose extraction must
    * reproduce it byte-identically (BASELINE.json `input_hint` invariant). */
  def textCol(id: org.apache.spark.sql.Column) = {
    val vocab = array(Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu").map(lit): _*)
    concat(
      lit("Page "), id.cast("string"),
      lit(" "), element_at(vocab, (id % 12).cast("int") + 1),
      lit(" "), element_at(vocab, (id % 7).cast("int") + 1),
      when(id % 7 === 0, lit(" fox & dog")).otherwise(lit("")),
      lit(" end"))
  }

  /** Common-Crawl-style page table (BASELINE.json `input_hint` schema):
    * (url string, warc_ts timestamp, html binary, text string, lang string).
    * Page i carries anchors to the band(n, l) link targets; anchor bodies are
    * empty so extracted text == the `<p>` body == `text` column exactly. */
  def pages(spark: SparkSession, n: Long, l: Int): DataFrame = {
    val links = transform(
      sequence(lit(0), lit(l - 1)),
      j => format_string(
        "<a href=\"https://example.org/page/%08d\"></a>",
        greatest(col("id") - l, lit(0L)) + j))
    val text = textCol(col("id"))
    val escaped = regexp_replace(text, "&", "&amp;")
    val html = concat(
      lit("<html><head><title>Page "), col("id").cast("string"),
      lit("</title><script>var x=1;</script></head><body><p>"),
      escaped,
      lit("</p>"),
      array_join(links, ""),
      lit("</body></html>"))
    spark.range(n).toDF("id").select(
      urlCol(col("id")).as("url"),
      expr("timestampadd(SECOND, id, timestamp'2026-01-01 00:00:00')")
        .as("warc_ts"),
      encode(html, "UTF-8").as("html"),
      text.as("text"),
      lit("en").as("lang"))
  }
}

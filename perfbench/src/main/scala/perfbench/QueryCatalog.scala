package perfbench

import java.io.{File, PrintWriter}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.core.Tile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The declared `SparkEntry.queries` over a generated star schema. Each op
 * is build + `noop` write, the shape `graft.Bench` times. The sample is the
 * query at the middle of each latency stratum of the pool recorded in
 * `reference/query_catalog.tsv`; the seed sets the order of the rotation.
 * (A sample drawn by the seed moved op_p50_s by up to 30% between seeds.)
 * Before the warm-up and again after the timed loop, every sampled query
 * is collected and checked against its recorded row count, schema and
 * content fingerprint.
 */
final class QueryCatalog(seed: Long, benchDir: File) extends Workload {
  import QueryCatalog._

  private val pool = Reference.load(new File(benchDir, ReferenceFile)).filter(_.latency <= PoolMaxLatencyS)
  /** The query at the middle of each latency stratum of the pool. */
  val sample: Seq[Reference] = {
    val byCost = pool.sortBy(r => (r.latency, r.name))
    val strata = Strata.min(byCost.size)
    (0 until strata).map(k => byCost((2 * k + 1) * byCost.size / (2 * strata)))
  }
  /** Queries that failed the check before timing; each of their timed ops fails too. */
  private val bad = mutable.Set.empty[String]

  def prepare(spark: SparkSession, dir: File): Seq[Op] = {
    val data = new File(dir, "tables").getAbsolutePath
    Tables.write(spark, data)
    new scala.util.Random(seed).shuffle(sample).map { r =>
      val fn = SparkEntry.queries(r.name)
      Op(r.name, 0L, s => fn(s, data),
        df => df.write.mode("overwrite").format("noop").save(),
        _ => if (bad(r.name)) Some("failed verification") else None)
    }
  }

  /** After the check pass; without this rotation op_p50_s spread 15%
    * over ten seeds instead of 9%. */
  override def warmUpRotations: Int = 1

  /** Collects every sampled query and checks it; before timing, a query
    * that fails the check fails each of its timed ops too. */
  override def verify(spark: SparkSession, ops: Seq[Op]): Seq[String] = {
    bad.clear()
    val refs = sample.map(r => r.name -> r).toMap
    ops.map(op => (op, refs(op.kind))).flatMap { case (op, ref) =>
      val err = try {
        val f = Fingerprint.of(op.build(spark))
        Runner.harness(ref.check(f))
      } catch { case NonFatal(e) => Some(e.toString) }
      Runner.releaseLeftovers(spark)
      err.foreach(_ => bad += ref.name)
      err.map(e => s"${ref.name}: $e")
    }
  }
}

object QueryCatalog {
  val ReferenceFile = "reference/query_catalog.tsv"
  /** Many strata, so the median and p90 ops fall among several queries of
    * close latency and one query's run-to-run noise moves them little
    * (with 5 strata op_p50_s spread 23% over ten seeds, with 15 about 13%). */
  val Strata = 15
  /** Queries slower than this when recorded are not recorded. */
  val MaxLatencyS = 2.0
  /** The sampled pool: queries up to about the recorded p80 latency, so
    * that p90 does not rest on one slow outlier. */
  val PoolMaxLatencyS = 1.0
  /** The recorded pool is every PoolStride-th declared query in name order. */
  val PoolStride = 3
}

/** Row count, schema, and a content fingerprint that rounds nothing:
  * every non-floating value is hashed exactly, and floating values (and
  * tile cells) are summed per column, compared with a relative tolerance. */
final case class Fingerprint(rows: Long, schema: String, hash: String, sums: Seq[Double])

object Fingerprint {
  /** Collects `df`; the rendering and hashing after it is benchmark time. */
  def of(df: DataFrame): Fingerprint = {
    val rows = df.collect()
    Runner.harness(digest(df, rows))
  }

  private def digest(df: DataFrame, rows: Array[Row]): Fingerprint = {
    val width = df.schema.size
    val sums = new Array[Double](width)
    def render(v: Any, col: Int): String = v match {
      case null => "null"
      case d: Double if d.isNaN || d.isInfinite => d.toString
      case d: Double => sums(col) += math.abs(d); "~"
      case f: Float if f.isNaN || f.isInfinite => f.toString
      case f: Float => sums(col) += math.abs(f.toDouble); "~"
      case t: Tile =>
        var s = 0.0; var i = 0
        while (i < t.size) { val x = t.getDouble(i); if (!x.isNaN) s += math.abs(x); i += 1 }
        sums(col) += s
        s"tile(${t.cellType.name},${t.cols}x${t.rows},${t.dataCells})"
      case r: Row => r.toSeq.map(render(_, col)).mkString("(", ",", ")")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k, col) + "->" + render(x, col) }.sorted.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(render(_, col)).mkString("[", ",", "]")
      case other => other.toString
    }
    val lines = rows.map(r => (0 until width).map(i => render(r.get(i), i)).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    Fingerprint(rows.length.toLong, sha(df.schema.catalogString),
      md.digest().take(12).map("%02x".format(_)).mkString, sums.toSeq)
  }

  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
}

/** One recorded query: its fingerprint at the recording commit (hash and
  * sums absent when they did not repeat across two runs) and its latency. */
final case class Reference(name: String, rows: Long, schema: String, hash: Option[String],
    sums: Option[Seq[Double]], latency: Double) {
  def check(f: Fingerprint): Option[String] = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(math.abs(a), math.abs(b)) + 1e-9
    if (f.rows != rows) Some(s"${f.rows} rows, recorded $rows")
    else if (f.schema != schema) Some(s"schema ${f.schema}, recorded $schema")
    else if (hash.exists(_ != f.hash)) Some(s"content hash ${f.hash}, recorded ${hash.get}")
    else if (sums.exists(s => s.size != f.sums.size || !s.zip(f.sums).forall { case (a, b) => close(a, b) }))
      Some(s"floating sums ${f.sums.mkString(",")}, recorded ${sums.get.mkString(",")}")
    else None
  }
  def line: String = Seq(name, rows.toString, schema, hash.getOrElse("-"),
    sums.map(_.map(d => f"$d%.17g").mkString(",")).getOrElse("-"), f"$latency%.4f").mkString("\t")
}

object Reference {
  def load(f: File): Seq[Reference] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val a = l.split("\t", -1)
      Reference(a(0), a(1).toLong, a(2), Some(a(3)).filter(_ != "-"),
        Some(a(4)).filter(_ != "-").map(s => if (s.isEmpty) Nil else s.split(",").map(_.toDouble).toSeq),
        a(5).toDouble)
    }.toVector finally src.close()
  }
}

/** The star schema the declared queries read, generated from a fixed seed
  * at about the row counts of TPC-H scale factor 0.01. Every column is a
  * hash of the row id, so the tables are identical on every run. */
object Tables {
  private def h(salt: Int, extra: Column*): Column = xxhash64((col("id") +: lit(salt) +: extra): _*)
  private def pick(salt: Int, n: Int): Column = pmod(h(salt), lit(n.toLong))
  private def unit(salt: Int): Column = pmod(h(salt), lit(1000000L)).cast("double") / 1e6
  private def oneOf(salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, xs.size) + 1).cast("int"))
  private def day(from: String, salt: Int, n: Int): Column =
    date_add(lit(from).cast("date"), pick(salt, n).cast("int")).cast("timestamp_ntz")

  private val words = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")

  def write(spark: SparkSession, dir: String): Unit = {
    val writes = mutable.ArrayBuffer.empty[() => Unit]
    def save(name: String, n: Long, cols: Column*): Unit = writes += (() =>
      spark.range(n).select(cols: _*).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    save("region", 5, col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    save("nation", 25, col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
    save("customer", 1500, col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"), round(unit(2) * 10999.99 - 999.99, 2).as("c_acctbal"),
      oneOf(3, "HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE").as("c_mktsegment"))
    save("supplier", 100, col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(4, 25).cast("int").as("s_nationkey"), round(unit(5) * 10999.99 - 999.99, 2).as("s_acctbal"))
    save("part", 2000, col("id").as("p_partkey"),
      concat_ws(" ", oneOf(6, "blue", "cold", "hot", "large", "new", "old", "red", "small"),
        oneOf(7, "anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")).as("p_name"),
      concat(lit("Brand#"), pick(8, 25) + 1).as("p_brand"),
      oneOf(9, "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE").as("p_type"),
      (pick(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
    save("orders", 15000, col("id").as("o_orderkey"), pick(11, 1500).as("o_custkey"),
      oneOf(12, "P", "F", "O").as("o_orderstatus"), round(unit(13) * 499000 + 1000, 2).as("o_totalprice"),
      day("1995-01-01", 14, 2400).as("o_orderdate"),
      oneOf(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
    save("lineitem", 60000, pick(16, 15000).as("l_orderkey"), pick(17, 2000).as("l_partkey"),
      pick(18, 100).as("l_suppkey"), (pick(19, 7) + 1).cast("int").as("l_linenumber"),
      (pick(20, 50) + 1).cast("double").as("l_quantity"),
      round((pick(20, 50) + 1) * (unit(21) * 1200 + 900), 2).as("l_extendedprice"),
      (pick(22, 11) / 100.0).as("l_discount"), (pick(23, 9) / 100.0).as("l_tax"),
      oneOf(24, "A", "N", "R").as("l_returnflag"), oneOf(25, "F", "O").as("l_linestatus"),
      day("1995-01-02", 26, 2499).as("l_shipdate"))
    save("events", 10000, col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 259 + pick(27, 259)).cast("timestamp_ntz").as("ts"),
      pick(28, 150).as("user_id"), oneOf(29, "error", "click", "view", "signup", "purchase").as("event_type"),
      round(-log(unit(30) * 0.999 + 0.001) * 50 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), pick(31, 100), lit("}")).as("props"))
    // every 25th document repeats its predecessor's text plus a marker
    val base = when(col("id") % 25 === 24, col("id") - 1).otherwise(col("id"))
    val vocab = array(words.map(lit): _*)
    val text = concat_ws(" ", transform(sequence(lit(1), (pmod(xxhash64(base, lit(32)), lit(80L)) + 10).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(base, i), lit(words.size.toLong)) + 1).cast("int"))))
    val docText = when(col("id") % 25 === 24, concat(text, lit(" dup"))).otherwise(text)
    save("documents", 500, col("id").as("doc_id"), docText.as("text"),
      oneOf(33, "en", "en", "en", "zh", "es", "de", "fr").as("lang"),
      concat(lit("src"), col("id") % 20).as("source"), length(docText).cast("long").as("n_chars"))
    val label = pick(34, 10)
    save("embeddings", 500, col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(label, i), lit(1000L)) / 1000.0 - 0.5) * 0.6 +
          (pmod(xxhash64(col("id"), i, lit(35)), lit(1000L)) / 1000.0 - 0.5) * 0.2).cast("float")).as("embedding"),
      label.cast("int").as("label"))
    // one single-task job per table, run concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
    try writes.map(w => pool.submit(new Runnable { def run(): Unit = w() })).foreach(_.get())
    finally pool.shutdown()
  }
}

/**
 * Records `reference/query_catalog.tsv`: runs every `PoolStride`-th declared
 * query (in name order) twice over the generated tables, keeps those that
 * succeed with the same row count and schema both times, and stores their
 * fingerprint (hash and sums only when they repeat) and their build + noop
 * latency within a shuffled mix of all kept queries.
 *
 * Usage: RecordCatalog <perfbench dir> <scratch dir>
 */
object RecordCatalog {
  def main(argv: Array[String]): Unit = {
    val bench = new File(argv(0))
    val work = new File(argv(1))
    val cpus = Runtime.getRuntime.availableProcessors
    val stride = QueryCatalog.PoolStride
    val a = Args("query_catalog", 0, 0, trace = false, cpus, work, new File(work, "out"), new File(work, "spans"), bench)
    val spark = Runner.newSession(a)
    val data = new File(work, "tables").getAbsolutePath
    Tables.write(spark, data)
    val notes = mutable.ArrayBuffer.empty[String]
    val names = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.collect { case (q, i) if i % stride == 0 => q }
    val fingerprints = names.flatMap { case (name, fn) =>
      System.err.println(s"[record] $name")
      try {
        val f1 = Fingerprint.of(fn(spark, data)); Runner.releaseLeftovers(spark)
        val f2 = Fingerprint.of(fn(spark, data)); Runner.releaseLeftovers(spark)
        val sumsRepeat = f1.sums.zip(f2.sums).forall { case (x, y) =>
          math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)) + 1e-12 }
        if (f1.rows != f2.rows || f1.schema != f2.schema) {
          notes += s"# excluded $name: row count or schema differs between runs"; None
        } else {
          val exact = f1.hash == f2.hash && sumsRepeat
          if (!exact) notes += s"# count+schema only $name: content differs between runs"
          Some((name, fn, f1, exact))
        }
      } catch {
        case NonFatal(e) =>
          Runner.releaseLeftovers(spark)
          notes += s"# excluded $name: ${e.toString.replaceAll("\\s+", " ").take(160)}"
          None
      }
    }
    // latency in a mix, as the workload runs it: three passes over all
    // kept queries in shuffled order, build + noop write, median per query
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    for (pass <- 0 until 3; (name, fn, _, _) <- new scala.util.Random(pass).shuffle(fingerprints)) {
      val t0 = System.nanoTime()
      fn(spark, data).write.mode("overwrite").format("noop").save()
      times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Runner.releaseLeftovers(spark)
    }
    spark.stop()
    val kept = fingerprints.flatMap { case (name, _, f, exact) =>
      val lat = Runner.quantile(times(name).toSeq, 0.5)
      if (lat > QueryCatalog.MaxLatencyS) { notes += f"# excluded $name: $lat%.2f s"; None }
      else Some(Reference(name, f.rows, f.schema, if (exact) Some(f.hash) else None,
        if (exact) Some(f.sums) else None, lat).line)
    }
    val out = new File(bench, QueryCatalog.ReferenceFile)
    out.getParentFile.mkdirs()
    val w = new PrintWriter(out, "UTF-8")
    try {
      w.println("# name\trows\tschema_sha\tcontent_sha\tfloat_abs_sums\tlatency_s")
      w.println(s"# every ${stride}th declared query, recorded over perfbench's generated tables on local[$cpus];")
      w.println("# latency_s is the median of three shuffled build + noop passes over all kept queries")
      notes.foreach(w.println)
      kept.foreach(w.println)
    } finally w.close()
  }
}

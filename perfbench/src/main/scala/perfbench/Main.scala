package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BusShim
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{ParqTools, SparkEntry}
import graft.io.ParquetIO
import graft.sources.{CanonicalSchema, DemoBlockModel}

/** One operation of a workload, driven only through the library's public
  * calls. `run` wraps each call into a layer in `phase` and returns what
  * the operation reports besides its time. */
sealed trait Op {
  def name: String
  def run(spark: SparkSession, phase: Phase): Map[String, Any]
}

/** Times one layer's call and tags the Spark jobs it submits. */
trait Phase {
  def apply[T](layer: String)(body: => T): T
}

/** A query: `build` is the call that returns the DataFrame (for a catalog
  * query the `SparkEntry.queries` call, including the jobs estimators run
  * before returning), `plan` forces Catalyst's physical plan, `exec` is the
  * action. The action collects, so the last result is kept for the output
  * check. */
final class QueryOp(val name: String)(build: SparkSession => DataFrame) extends Op {
  var lastRows: Array[Row] = Array.empty
  var schema: StructType = new StructType()
  val rowCounts = scala.collection.mutable.Set.empty[Long]

  def run(spark: SparkSession, phase: Phase): Map[String, Any] = {
    val df = phase("build") { build(spark) }
    phase("plan") { df.queryExecution.executedPlan }
    val rows = phase("exec") { df.collect() }
    lastRows = rows
    schema = df.schema
    rowCounts += rows.length.toLong
    Map.empty
  }
}

/** A `ParqTools` file-to-file call writing `out`; everything it does is the
  * `io` layer. */
final class FileOp(val name: String, out: String)(call: (ParqTools, String) => Unit)
    extends Op {
  def run(spark: SparkSession, phase: Phase): Map[String, Any] = {
    phase("io") { call(ParqTools(spark), out) }
    Map("files" -> Main.dataFiles(out))
  }
}

object Main {

  /** Set-up rounds per run; `setup_s` reports their median. */
  val Setups = 3

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def dataFiles(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep Spark's own job and query history small and fixed, so the
      // retained heap shows what the library keeps, not how many passes ran
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The block-model inputs of `file_pipeline`, written through the
    * library's generator: the model and its two halves (for the tall
    * concat). */
  def blockModelInputs(spark: SparkSession, in: String, shape: (Int, Int, Int),
      block: (Double, Double, Double), corner: (Double, Double, Double)): Unit = {
    val n = shape._1.toLong * shape._2 * shape._3
    DemoBlockModel.createFile(spark, s"$in/bm.parquet", shape, block, corner)
    val bm = DemoBlockModel.create(spark, shape, block, corner)
    ParquetIO.write(bm.filter(col("c_order_xyz") < n / 2), s"$in/bm_a.parquet")
    ParquetIO.write(bm.filter(col("c_order_xyz") >= n / 2), s"$in/bm_b.parquet")
  }

  /** The file pipeline: every step but the last writes a file; `rename`
    * reads the file `dedup` has just written, and `readback` aggregates the
    * file `rename` has just written. */
  def pipeline(in: String, out: String, filterExpr: String): Seq[Op] = {
    val bm = s"$in/bm.parquet"
    def step(name: String)(call: (ParqTools, String) => Unit) =
      new FileOp(name, s"$out/$name.parquet")(call)
    Seq(
      step("filter") { (pt, o) =>
        pt.filterParquetFile(bm, o, Some(filterExpr), Some(Seq("x", "y", "z", "depth")))
      },
      step("concat_tall") { (pt, o) =>
        pt.concatParquetFiles(Seq(s"$in/bm_a.parquet", s"$in/bm_b.parquet"), o, axis = 0)
      },
      step("sort") { (pt, o) => pt.sortParquetFile(bm, o, Seq("z", "y", "x")) },
      step("dedup") { (pt, o) => pt.deduplicateParquet(bm, o, Seq("x", "y")) },
      step("rename") { (pt, o) =>
        pt.renameAndUpdateMetadata(s"$out/dedup.parquet", o,
          renameMap = Map("x" -> "easting", "y" -> "northing", "z" -> "rl"),
          tableMetadata = Map("source" -> "perfbench"),
          columnMetadata = Map("depth" -> Map("unit" -> "m")))
      },
      new QueryOp("readback")(spark => ParquetIO.read(spark, s"$out/rename.parquet")
        .agg(count(lit(1)).as("n"), sum("depth").as("depth_sum"))))
  }

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val work = a("work")
    val data = a("data")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    Files.createDirectories(Paths.get(work))
    val origin = System.nanoTime()

    val ops: Seq[Op] = a("workload") match {
      case "file_pipeline" =>
        pipeline(s"$work/in", s"$work/out", a("filter"))
      case _ =>
        // the catalog queries, then one ParqTools write from a catalog table
        a("ops").split(",").toSeq.map(q => new QueryOp(q)(SparkEntry.queries(q)(_, data))) :+
          new FileOp("filter_lineitem", s"$work/out/filter_lineitem.parquet")((pt, o) =>
            pt.filterParquetFile(s"$data/lineitem.parquet", o, Some(a("filter")),
              Some(a("columns").split(",").toSeq)))
    }
    val shape = a.get("shape").map(_.split("x").map(_.toInt)).map(s => (s(0), s(1), s(2)))
    def triple(key: String) = a.get(key).map(_.split("x").map(_.toDouble)).map(s => (s(0), s(1), s(2)))
    val block = triple("block")
    val corner = triple("corner")

    val counters = new Counters
    val logCounter = new LogCounter(counters)
    val spans = new Spans(origin)
    val opRecs = ArrayBuffer.empty[Map[String, Any]]
    val passRecs = ArrayBuffer.empty[Map[String, Any]]
    var seq = 0L
    val sessionStart = System.nanoTime()
    val spark = session(cpus, work)
    val sessionMs = (System.nanoTime() - sessionStart) / 1e6

    // one pass over the workload, one operation at a time (closed loop)
    def pass(p: Int, trace: Boolean, timed: Boolean): Double = {
      val t0 = System.nanoTime()
      ops.foreach { op =>
        seq += 1
        val s = seq
        val phases = ArrayBuffer.empty[(String, Double)]
        val phase = new Phase {
          def apply[T](layer: String)(body: => T): T = {
            val tag = s"$s/$layer"
            spark.sparkContext.setLocalProperty(Counters.Tag, if (trace) tag else null)
            if (trace) logCounter.tag = tag
            val t = System.nanoTime()
            try { if (trace) spans(s, layer)(body) else body }
            finally {
              phases += layer -> (System.nanoTime() - t) / 1e6
              spark.sparkContext.setLocalProperty(Counters.Tag, null)
              logCounter.tag = null
            }
          }
        }
        val gc0 = Jvm.gcMs
        val t = System.nanoTime()
        val (detail, err) =
          try { (if (trace) spans(s, op.name)(op.run(spark, phase)) else op.run(spark, phase), null) }
          catch { case NonFatal(e) => (Map.empty, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
        val ms = (System.nanoTime() - t) / 1e6
        if (timed) opRecs += Map("seq" -> s, "pass" -> p, "traced" -> trace, "op" -> op.name,
          "ms" -> ms, "phases" -> phases.toMap, "ok" -> (err == null), "error" -> err,
          "detail" -> detail, "driver_gc_ms" -> (Jvm.gcMs - gc0))
      }
      (System.nanoTime() - t0) / 1e6
    }

    // set-up after the session start: `Setups` rounds of writing the
    // block-model inputs and one untimed pass over them (the first is cold;
    // together they are the warm-up)
    val setupRecs = (1 to Setups).map { _ =>
      val t1 = System.nanoTime()
      for (s <- shape; b <- block; c <- corner) blockModelInputs(spark, s"$work/in", s, b, c)
      val t2 = System.nanoTime()
      pass(0, trace = false, timed = false)
      val t3 = System.nanoTime()
      Map("inputs_ms" -> (t2 - t1) / 1e6, "pass_ms" -> (t3 - t2) / 1e6,
        "total_ms" -> (t3 - t1) / 1e6)
    }
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      logCounter.attach()
    }

    // timed region: whole passes until `seconds` have elapsed; a traced run
    // interleaves untraced and traced passes (U T T U U T ...) so it also
    // measures the tracing overhead, balanced against the warm-up trend
    val start = System.nanoTime()
    var p = 0
    while (p == 0 || (traced && p < 2) || (System.nanoTime() - start) / 1e9 < seconds) {
      p += 1
      val trace = traced && (p % 4 == 2 || p % 4 == 3)
      val wall = if (trace) spans(-p.toLong, "pass")(pass(p, trace, timed = true))
                 else pass(p, trace, timed = true)
      passRecs += Map("pass" -> p, "traced" -> trace, "wall_ms" -> wall)
    }
    val timedS = (System.nanoTime() - start) / 1e9

    // per-read cost of the sources layer, outside the timed region
    val probeRecs = if (!traced) Nil else a.getOrElse("probe", "").split(",").toSeq
      .filter(_.nonEmpty).flatMap { table =>
        (1 to 3).map { _ =>
          seq += 1
          val tag = s"$seq/sources"
          spark.sparkContext.setLocalProperty(Counters.Tag, tag)
          val t = System.nanoTime()
          spans(seq, "sources") {
            if (table.contains("/")) ParquetIO.read(spark, table)
            else CanonicalSchema.read(spark, data, table)
          }
          val ms = (System.nanoTime() - t) / 1e6
          spark.sparkContext.setLocalProperty(Counters.Tag, null)
          Map("table" -> table, "seq" -> seq, "ms" -> ms)
        }
      }

    // output check material, outside the timed region
    val results = s"$work/results"
    val checks = ops.collect { case c: QueryOp =>
      spark.createDataFrame(c.lastRows.toSeq.asJava, c.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$results/${c.name}")
      val r = Map("query" -> c.name, "oracle_sql" -> SparkEntry.oracleSql.get(c.name).orNull,
        "row_counts" -> c.rowCounts.toSeq.sorted)
      c.lastRows = Array.empty
      r
    }
    BusShim.drain(spark.sparkContext)
    val heapMb = Jvm.retainedHeapMb

    val counts = counters.snapshot.map { case (tag, v) =>
      tag -> Count.names.zip(v).toMap
    }
    val result = Map("cpus" -> cpus, "timed_s" -> timedS, "session_ms" -> sessionMs,
      "setup" -> setupRecs, "passes" -> passRecs, "ops" -> opRecs, "probes" -> probeRecs,
      "counts" -> counts, "checks" -> checks, "retained_heap_mb" -> heapMb)
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    if (traced) {
      val lines = spans.spans.map(s => Json(Map("span" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.writeString(Paths.get(s"$work/trace.jsonl"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

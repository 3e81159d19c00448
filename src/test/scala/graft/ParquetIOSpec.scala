package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusHatch
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.io.ParquetIO
import graft.ops.SchemaOps
import graft.sources.{CanonicalSchema, EventsSource}

/** The per-file-identity schema cache behind `ParquetIO.read`, and the
  * src/main rules that plain parquet reads go through it and that sessions
  * are built only by `GraftSession`. */
class ParquetIOSpec extends SparkSpecBase {
  import spark.implicits._

  /** Runs `body` and returns it with the number of Spark jobs it submitted
    * from this thread (tagged by a job group, so no other work counts). */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-io-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ParquetIOSpec")
    try {
      val r = body
      ListenerBusHatch.drain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def jobs(body: => Any): Int = withJobs(body)._2

  /** A private copy of test-corpus tables, so the first read is a miss. */
  private def corpusCopy(tables: String*): String = {
    val dir = tmpDir("pqio_corpus")
    tables.foreach(t => Files.copy(Paths.get(sf(t)), Paths.get(s"$dir/$t.parquet")))
    dir
  }

  test("a second read of an unchanged file runs no Spark job and returns the same rows") {
    val dir = corpusCopy("orders", "events")
    val orders = s"$dir/orders.parquet"
    val (first, missJobs) = withJobs(ParquetIO.read(spark, orders))
    assert(missJobs >= 1, "an inferring read runs the footer job")
    val (second, hitJobs) = withJobs(ParquetIO.read(spark, orders))
    assert(hitJobs == 0)
    assert(second.schema == first.schema)
    assert(second.orderBy("o_orderkey").collect().toSeq ==
      spark.read.parquet(orders).orderBy("o_orderkey").collect().toSeq)

    // the two source readers delegate to ParquetIO.read
    assert(jobs(CanonicalSchema.read(spark, dir, "orders")) == 0)
    jobs(EventsSource.read(spark, s"$dir/events.parquet"))
    val (events, eventJobs) = withJobs(EventsSource.read(spark, s"$dir/events.parquet"))
    assert(eventJobs == 0)
    assert(events.schema("ts").dataType == TimestampType)
    assert(jobs(CanonicalSchema.read(spark, dir, "events")) == 0)
    assert(jobs(ParquetIO.schema(spark, orders)) == 0)
  }

  test("overwriting a single file with a new schema returns the new schema") {
    val path = tmpDir("pqio_single") + "/t.parquet"
    ParquetIO.writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    assert(ParquetIO.read(spark, path).columns.toSeq == Seq("k", "v"))
    assert(jobs(ParquetIO.read(spark, path)) == 0)
    ParquetIO.writeSingleFile(Seq((1L, 2.5, true)).toDF("k", "d", "flag"), path)
    val back = ParquetIO.read(spark, path)
    assert(back.columns.toSeq == Seq("k", "d", "flag"))
    assert(back.collect().toSeq.map(_.toSeq) == Seq(Seq(1L, 2.5, true)))
    assert(ParquetIO.schema(spark, path) == back.schema)
  }

  test("overwriting a Spark output directory with a new schema returns the new schema") {
    val path = tmpDir("pqio_dir") + "/t"
    ParquetIO.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2), path)
    assert(ParquetIO.read(spark, path).columns.toSeq == Seq("k", "v"))
    assert(jobs(ParquetIO.read(spark, path)) == 0)
    ParquetIO.write(Seq((7, 1.5f)).toDF("id", "score"), path)
    val back = ParquetIO.read(spark, path)
    assert(back.columns.toSeq == Seq("id", "score"))
    assert(back.collect().toSeq.map(_.toSeq) == Seq(Seq(7, 1.5f)))
  }

  test("column metadata survives a cached read") {
    val path = tmpDir("pqio_meta") + "/t"
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "depth")
    ParquetIO.write(SchemaOps.withColumnMetadata(df, Map("depth" -> Map("unit" -> "m"))), path)
    ParquetIO.read(spark, path)
    val (cached, n) = withJobs(ParquetIO.read(spark, path))
    assert(n == 0)
    assert(cached.schema("depth").metadata.getString("unit") == "m")
    assert(ParquetIO.schema(spark, path)("depth").metadata.getString("unit") == "m")
  }

  test("the shared test session carries the GraftSession.local(4) confs") {
    // the confs every cached schema above was inferred under
    assert(Seq("spark.sql.session.timeZone", EventsSource.NanosAsLongConf,
      "spark.sql.shuffle.partitions").map(spark.conf.get) == Seq("UTC", "true", "4"))
  }

  test("a session with different schema-conversion confs does not reuse the cached schema") {
    val events = s"${corpusCopy("events")}/events.parquet"
    ParquetIO.read(spark, events)
    assert(jobs(ParquetIO.read(spark, events)) == 0)

    val nanos = spark.newSession()
    nanos.conf.set(EventsSource.NanosAsLongConf, "false")
    assert(jobs(ParquetIO.read(nanos, events)) >= 1, "a new nanosAsLong value re-infers")

    // a conf that changes the inferred type: the pandas-written ts is
    // TIMESTAMP(MICROS, isAdjustedToUTC=false)
    assert(ParquetIO.read(spark, events).schema("ts").dataType == TimestampNTZType)
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(ParquetIO.read(ltz, events).schema("ts").dataType == TimestampType)
    assert(ParquetIO.read(spark, events).schema("ts").dataType == TimestampNTZType)
  }

  test("a hive-partitioned directory bypasses the cache and keeps its partition column") {
    val dir = corpusCopy("events")
    val out = s"$dir/by_date"
    EventsSource.writeDatePartitioned(spark, s"$dir/events.parquet", out)
    assert(ParquetIO.fileIdentity(spark, out).isEmpty)
    val n = spark.read.parquet(s"$dir/events.parquet").count()
    (1 to 2).foreach { _ =>
      val back = ParquetIO.read(spark, out)
      assert(back.columns.contains("event_date"))
      assert(back.count() == n)
    }
    // a glob cannot be resolved to one identity either
    assert(ParquetIO.fileIdentity(spark, s"$dir/*.parquet").isEmpty)
    assert(ParquetIO.read(spark, s"$dir/*.parquet").count() == n)
  }

  test("the staged row-count cache sees a regenerated directory") {
    val path = tmpDir("pqio_rows") + "/staged"
    ParquetIO.write((1L to 5L).toDF("k"), path)
    assert(catalog.Streaming.parquetRows(spark, path) == 5L)
    assert(jobs(catalog.Streaming.parquetRows(spark, path)) == 0)
    ParquetIO.write((1L to 8L).toDF("k"), path)
    assert(catalog.Streaming.parquetRows(spark, path) == 8L)
  }

  test("plain parquet reads in src/main go through ParquetIO.read") {
    // Files allowed a direct `spark.read.parquet(`, with how many: each
    // needs what a cached schema would change or cannot express.
    val allowed = Map(
      // readPartitioned: hive partition discovery
      "graft/sources/EventsSource.scala" -> 1,
      // compact: rewrites any layout, partitioned ones included
      "graft/ops/LayoutOps.scala" -> 1,
      // BenchScale.materialize: the scale generator's copies of the sources
      "graft/BenchScale.scala" -> 2,
      // q341 and q193 read hive-partitioned layouts back
      "graft/catalog/ScansJoins.scala" -> 2)
    val plainRead = """\.read\s*\.parquet\(""".r
    val found = mainSources
      .map { case (f, text) => f -> plainRead.findAllMatchIn(text).size }
      .filter { case (f, n) => n > 0 && f != "graft/io/ParquetIO.scala" }
    assert(found == allowed,
      s"direct .read.parquet( outside ParquetIO: $found; allowed: $allowed")
  }

  test("SparkSession.builder is called in src/main only by GraftSession") {
    val builder = """SparkSession\s*\.builder\b""".r
    // scaladoc and line comments may name the builder without calling it
    def isComment(line: String): Boolean =
      Seq("*", "//", "/*").exists(line.trim.startsWith)
    val found = mainSources
      .map { case (f, text) =>
        f -> text.linesIterator.filterNot(isComment)
          .count(builder.findFirstIn(_).isDefined)
      }
      .filter(_._2 > 0)
    assert(found == Map("graft/GraftSession.scala" -> 1),
      s"SparkSession.builder outside GraftSession: $found")
  }

  /** Every src/main Scala file's text, keyed by its path under src/main/scala. */
  private def mainSources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') -> Files.readString(p))
      .toMap
  }
}

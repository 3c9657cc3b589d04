package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.pipeline.MoviesEtl
import graft.sources.IO

/** The benchmark's JVM side. One client, one operation at a time, in one
  * local-mode JVM: a cold pass over the workload's operation list, then
  * the workload's number of steady passes (or `--min-passes`), more while
  * they fit in `--seconds`. Every operation's
  * output is checked; with `--trace 1` two of four steady passes record
  * spans and listener totals, the other two run untraced, and the layer
  * probes run last. Results go to `<work>/result.json`; the caller prints them.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *             --cores N [--min-passes K]
  */
object Main {
  /** Operation list and minimum steady passes per run. With the JIT
    * stopped at C1 (run.py) a pass's CPU time is within about 20% of its
    * steady cost from the first steady pass on, the first steady pass
    * mostly the dearest. Two passes, the same number in every run, keep a
    * run near 50 s; over ten seeds per workload the mean of the first two
    * spread about as much as the median of three (movies_etl 11% vs 10%,
    * llm_prep 6% vs 8%). */
  val Workloads: Map[String, (Seq[String], Int)] = Map(
    "llm_prep" -> (Seq("q_llm_prep_full", "q_ann_pq", "q_lang_id"), 2),
    "movies_etl" -> (Seq(Movies.Op), 2))

  /** Spans whose duration is the operation's final action. */
  val ActionSpans: Set[String] =
    Set("exec.action", "io.jdbc_replace", "io.jdbc_append", "io.parquet_write")

  final case class Opts(workload: String, inputs: String, work: String,
                        seconds: Double, trace: Boolean, cores: Int,
                        minPasses: Option[Int])

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    Opts(kv.getOrElse("workload", ""), kv.getOrElse("inputs", ""),
      kv.getOrElse("work", ""), kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("cores", "4").toInt,
      kv.get("min-passes").map(_.toInt))
  }

  /** The session every graft main builds (Bench's settings), with scratch
    * space kept under the benchmark's work directory. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupCpu = Stats.cpuSeconds
    // host speed: two calibration rounds (after a warm-up one) before the
    // cold pass and after every pass, while Spark is idle
    val calib = mutable.ArrayBuffer.empty[Double]
    def calibrate(): Unit = { calib += Calibration.sample(); calib += Calibration.sample() }
    Calibration.sample()
    calibrate()
    val (ops, passes) = Workloads(o.workload)
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val listener = new SpanListener(tracer)
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val runner = new Runner(spark, o, tracer)
    new File(s"${o.work}/out").mkdirs()
    val oracle = ops.filter(_ != Movies.Op).map(op => op -> SparkEntry.oracleSql(op))
    Files.writeString(Paths.get(s"${o.work}/oracle.json"), Json.obj(oracle: _*).toString)

    // cold pass: trace id 0; outputs kept for the oracle compare
    tracer.trace = 0
    val coldCpu0 = Stats.cpuSeconds
    val cold = runner.pass(ops, keepOutputs = true)
    val coldCpu = Stats.cpuSeconds - coldCpu0
    calibrate()
    // steady passes: the minimum, more while another should end within
    // --seconds. A traced run makes four, ordered traced, untraced,
    // untraced, traced, so what is left of the warm-up trend cancels in
    // the tracing overhead.
    val minPasses = if (o.trace) 4 else o.minPasses.getOrElse(passes)
    val steady = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var j = 0
    var last = 0.0
    while (j < minPasses || (!o.trace && (System.nanoTime() - t0) / 1e9 + last <= o.seconds)) {
      tracer.enabled = o.trace && (j % 4 == 0 || j % 4 == 3)
      tracer.trace = 1 + j
      val c = Stats.cpuSeconds
      last = runner.pass(ops, keepOutputs = false)
      if (!tracer.enabled) cpu += Stats.cpuSeconds - c
      calibrate()
      steady += ((tracer.trace, tracer.enabled, last))
      j += 1
    }
    tracer.enabled = o.trace
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val counts = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val split = mutable.LinkedHashMap.empty[String, Double]
    if (o.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val an = new Analysis(tracer, listener, runner, o.cores)
      an.layerMetrics(steady.filter(_._2).map(_._1).toSeq, layers, counts, split)
      tracer.trace = -1 // probes
      val probes = new Probes(spark, o, tracer, runner)
      layers ++= probes.functions()
      layers ++= probes.io()
      layers ++= probes.ops()
      if (o.workload != "movies_etl") {
        tracer.trace = -2
        layers ++= probes.pipeline(an)
      }
      val untraced = steady.filterNot(_._2).map(_._3)
      val tracedS = steady.filter(_._2).map(_._3)
      layers("trace.pass_s") = Stats.median(tracedS.toSeq)
      layers("trace.overhead_s") = Stats.median(tracedS.toSeq) - Stats.median(untraced.toSeq)
      writeTrace(o, tracer, listener, counts)
    }
    val result = Json.obj(
      "setup_s" -> setupS,
      "setup_cpu_s" -> setupCpu,
      "cold_pass_s" -> cold,
      "cold_pass_cpu_s" -> coldCpu,
      "pass_s" -> steady.filterNot(_._2).map(_._3).toSeq,
      "pass_cpu_s" -> cpu.toSeq,
      "calib_s" -> calib.toSeq,
      "traced_pass_s" -> steady.filter(_._2).map(_._3).toSeq,
      "ops" -> Json.obj(runner.outcomes.map { case (n, oc) => n -> oc.json }.toSeq: _*),
      "peak_rss_mb" -> Stats.peakRssMb,
      "layers" -> Json.obj(layers.toSeq: _*),
      "counts" -> Json.obj(counts.toSeq: _*),
      "split" -> Json.obj(split.toSeq: _*))
    Files.writeString(Paths.get(s"${o.work}/result.json"), result.toString)
    // the caller deletes the work directory; skip the orderly shutdown
    Runtime.getRuntime.halt(0)
  }

  private def writeTrace(o: Opts, tracer: Tracer, listener: SpanListener,
                         counts: mutable.Map[String, Seq[Double]]): Unit = {
    val t0 = tracer.spans.headOption.map(_.start).getOrElse(0L)
    val spans = tracer.spans.map { s =>
      val e = listener.sum(Set(s.id))
      Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ms" -> (s.start - t0) / 1e6,
        "end_ms" -> (s.end - t0) / 1e6, "self_ms" -> tracer.selfSeconds(s) * 1e3,
        "jobs" -> e.jobs, "tasks" -> e.tasks)
    }
    Files.writeString(Paths.get(s"${o.work}/trace.json"), Json.obj(
      "workload" -> o.workload, "spans" -> spans.toSeq,
      "counts" -> Json.obj(counts.toSeq: _*)).toString)
  }
}

/** Outcome of one operation over all passes. */
final class Outcome {
  var attempted = 0; var failed = 0
  var digest: String = null
  val seconds = mutable.ArrayBuffer.empty[Double]
  val errors = mutable.ArrayBuffer.empty[String]
  def json: Json.Raw = Json.obj("attempted" -> attempted, "failed" -> failed,
    "seconds" -> seconds.toSeq, "errors" -> errors.take(3).toSeq)
}

/** Runs passes and checks each operation's output against the cold pass's
  * (the cold pass's own output is checked by the caller: DuckDB oracle for
  * registry queries, planted truth for the movies pipeline). */
final class Runner(spark: SparkSession, o: Main.Opts, val tracer: Tracer) {
  val outcomes = mutable.LinkedHashMap.empty[String, Outcome]
  /** Query executions of the traced passes, by pass id, for plan analysis:
    * for a registry query the one its collect() runs, for the movies
    * pipeline the ones its sink calls run. */
  val passPlans = mutable.ArrayBuffer.empty[(Int, QueryExecution)]
  private val sinkPlans = new SinkPlans
  if (o.trace) spark.listenerManager.register(sinkPlans)
  val movies = new Movies(spark, s"${o.inputs}/movies", s"${o.work}/movies", tracer)

  /** One pass over `ops`; returns the seconds spent inside the operations. */
  def pass(ops: Seq[String], keepOutputs: Boolean): Double =
    tracer.span("pass") {
      ops.map(op => runOp(op, keepOutputs)).sum
    }

  private def runOp(op: String, keepOutputs: Boolean): Double = {
    val oc = outcomes.getOrElseUpdate(op, new Outcome)
    oc.attempted += 1
    var seconds = 0.0
    try {
      val (dt, digest) =
        if (op == Movies.Op) {
          // the sinks plan and run their own queries: keep those
          if (tracer.enabled) sinkPlans.take(spark.sparkContext)
          val dt = movies.run()
          if (tracer.enabled)
            passPlans ++= sinkPlans.take(spark.sparkContext).map(tracer.trace -> _)
          (dt, movies.check())
        } else {
          val (dt, df, rows) = tracer.span("op:" + op) {
            val t = System.nanoTime()
            val df = tracer.span("entry.construct") {
              SparkEntry.queries(op)(spark, o.inputs)
            }
            // collect() reuses the plan forced here
            tracer.span("catalyst.plan") { Movies.qe(df).executedPlan }
            val rows = tracer.span("exec.action") { df.collect() }
            ((System.nanoTime() - t) / 1e9, df, rows)
          }
          if (keepOutputs) writeRows(op, df.schema, rows)
          if (tracer.enabled) passPlans += ((tracer.trace, Movies.qe(df)))
          (dt, Stats.digest(rows))
        }
      seconds = dt
      oc.seconds += dt
      if (oc.digest == null) oc.digest = digest
      else if (oc.digest != digest) {
        oc.failed += 1
        oc.errors += s"pass ${tracer.trace}: output differs from the cold pass"
      }
    } catch {
      case e: Throwable =>
        oc.failed += 1
        oc.errors += s"pass ${tracer.trace}: ${e.toString.take(300)}"
    }
    seconds
  }

  private def writeRows(op: String, schema: StructType, rows: Array[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"${o.work}/out/$op")
}

/** The paper's dataflow: extract the ragged wiki JSON and two CSVs, run
  * `MoviesEtl`, load movies through JDBC replace (embedded Derby), append a
  * bounded ratings slice through JDBC, and write parquet. */
final class Movies(spark: SparkSession, in: String, work: String, tracer: Tracer) {
  private val url = s"jdbc:derby:$work/derby;create=true"
  private val outPath = s"$work/movies.parquet"
  private val truth = Files.readString(Paths.get(s"$in/truth.json"))
  private def truthLong(key: String): Long =
    s""""$key":\\s*(\\d+)""".r.findFirstMatchIn(truth).map(_.group(1).toLong).get
  private val sliceUsers = truthLong("slice_users")
  private val sliceRows = truthLong("ratings_slice_rows")
  private var appends = 0L

  /** One pass; returns its seconds. */
  def run(): Double = tracer.span("op:" + Movies.Op) {
    val t = System.nanoTime()
    val (wiki, kaggle, ratings) = tracer.span("pipeline.extract") {
      val w = tracer.span("io.json_infer") { IO.readJsonArray(spark, s"$in/wiki.json") }
      tracer.span("io.csv_scan") {
        (w, IO.readCsv(spark, s"$in/kaggle.csv", Movies.KaggleSchema),
          IO.readCsv(spark, s"$in/ratings.csv", Movies.RatingsSchema))
      }
    }
    val out = tracer.span("pipeline.transform") {
      tracer.span("entry.construct") { MoviesEtl.run(wiki, kaggle, ratings) }
    }
    tracer.span("pipeline.load") {
      val scalar = out.schema.fields.filter(f => Movies.jdbcType(f.dataType)).map(f => col(s"`${f.name}`"))
      tracer.span("io.jdbc_replace") {
        IO.writeJdbcReplace(out.select(scalar.toIndexedSeq: _*), url, "movies")
      }
      tracer.span("io.jdbc_append") {
        IO.writeJdbcAppend(MoviesEtl.transformRatings(ratings).filter(col("userId") <= sliceUsers),
          url, "ratings", numPartitions = 2, batchSize = 1000)
      }
      tracer.span("io.parquet_write") { IO.writeParquet(out, outPath) }
    }
    appends += 1
    (System.nanoTime() - t) / 1e9
  }

  /** Read the loaded outputs back: the parquet rows' digest, and the JDBC
    * tables' row counts, which must match the parquet rows and the number
    * of slice appends so far. */
  def check(): String = {
    val rows = spark.read.parquet(outPath).collect()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      def count(t: String): Long = {
        val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next(); rs.getLong(1)
      }
      val (m, r) = (count("movies"), count("ratings"))
      require(m == rows.length, s"JDBC movies rows $m != parquet rows ${rows.length}")
      require(r == appends * sliceRows, s"JDBC ratings rows $r != ${appends * sliceRows}")
    } finally conn.close()
    Stats.digest(rows)
  }
}

object Movies {
  val Op = "movies_etl"
  val KaggleSchema: StructType = StructType(Seq("adult", "belongs_to_collection",
    "budget", "genres", "homepage", "id", "imdb_id", "original_language",
    "original_title", "overview", "popularity", "poster_path",
    "production_companies", "production_countries", "release_date", "revenue",
    "runtime", "spoken_languages", "status", "tagline", "title", "video",
    "vote_average", "vote_count").map(StructField(_, StringType)))
  val RatingsSchema: StructType = StructType.fromDDL(
    "userId LONG, movieId LONG, rating DOUBLE, timestamp LONG")

  def jdbcType(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case _: org.apache.spark.sql.types.ArrayType | _: org.apache.spark.sql.types.MapType |
         _: StructType => false
    case _ => true
  }

  def qe(df: DataFrame): org.apache.spark.sql.execution.QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
}

/** A fixed CPU workload that runs no program or Spark code: a chain of
  * 50 million dependent integer multiply-xorshift steps, about 0.13 s of
  * one core on the reference machine. Its CPU time tells how fast the
  * shared host runs this JVM at the moment (clock speed, a busy sibling
  * hyperthread); run.py scales the pass times by it. */
object Calibration {
  @volatile private var sink = 0L

  /** One round; returns this thread's CPU seconds for it. */
  def sample(): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val t0 = mx.getCurrentThreadCpuTime
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    sink = x
    (mx.getCurrentThreadCpuTime - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Order-insensitive digest of collected rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** CPU seconds this JVM has used, all threads. */
  def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this JVM; executors run inside it. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON writer: `obj` and `arr` return raw JSON that nests as is. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
  }
}

package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{GraftFunctions, MinHashSig, TextStats, VecMath}
import graft.ops.TextAnalysis
import graft.pipeline.MoviesEtl
import graft.sources.IO

/** Per-layer numbers of the traced passes: span durations for time, the
  * listener's totals for execution, the plan walker and the planning
  * tracker for Catalyst. Each metric is the median over traced passes. */
final class Analysis(tracer: Tracer, listener: SpanListener, runner: Runner,
                     cores: Int) {
  private def sum(ss: Seq[Span]) = ss.map(_.seconds).sum

  /** Layer of a span: the part of its name before the first dot. */
  private def layer(name: String): String =
    if (name.contains('.')) name.takeWhile(_ != '.') else "bench"

  def layerMetrics(passes: Seq[Int],
                   layers: mutable.Map[String, Double],
                   counts: mutable.Map[String, Seq[Double]],
                   split: mutable.Map[String, Double]): Unit = {
    val perPass = passes.map(p => pass(p))
    val names = perPass.flatMap(_._1.keys).distinct
    names.foreach { n =>
      layers(n) = Stats.median(perPass.flatMap(_._1.get(n)))
    }
    Analysis.Counts.foreach(n => counts(n) = perPass.flatMap(_._1.get(n)))
    perPass.flatMap(_._2.keys).distinct.foreach { l =>
      split(l) = Stats.median(perPass.map(_._2.getOrElse(l, 0.0)))
    }
  }

  /** Metrics of one traced pass, and its self time per layer. Planning
    * inside the movies sink calls counts as catalyst time, not io. */
  def pass(p: Int): (Map[String, Double], Map[String, Double]) = {
    // the pass span also covers the output checks; the operations do not
    val ss = tracer.spans.filter(s => s.trace == p && s.name != "pass").toSeq
    val passS = sum(ss.filter(_.name.startsWith("op:")))
    val named = (n: String) => ss.filter(_.name == n)
    val construct = named("entry.construct")
    val actions = ss.filter(s => Main.ActionSpans(s.name))
    val ex = listener.sum(actions.map(_.id).toSet)
    val plans = runner.passPlans.filter(_._1 == p).map(_._2).toSeq
    val shape = plans.map(PlanWalker(_)).foldLeft(PlanShape())(_ + _)
    val phases = plans.map(PlanWalker.phasesMs)
    val phase = (k: String) => phases.map(_.getOrElse(k, 0L)).sum.toDouble
    // a registry query's plan is forced in its own span; the movies sinks
    // plan inside their calls, which their trackers' phases measure
    val forced = named("catalyst.plan")
    val sinkPlanS =
      if (forced.nonEmpty) 0.0
      else Seq("analysis", "optimization", "planning").map(phase).sum / 1e3
    // the sinks' planning counts under catalyst, not as execution
    val actionS = sum(actions) - sinkPlanS
    val m = Map(
      "entry.construct_s" -> sum(construct),
      "entry.construct_jobs" -> listener.sum(construct.map(_.id).toSet).jobs.toDouble,
      "entry.construct_share" -> sum(construct) / passS,
      "catalyst.plan_s" -> (sum(forced) + sinkPlanS),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "catalyst.plan_nodes" -> shape.nodes.toDouble,
      "catalyst.exchanges" -> shape.exchanges.toDouble,
      "catalyst.scans" -> shape.scans.toDouble,
      "catalyst.hof_sites" -> shape.hofSites.toDouble,
      "catalyst.codegen_fallback" -> shape.codegenFallback.toDouble,
      "catalyst.unpartitioned_windows" -> shape.unpartitionedWindows.toDouble,
      "exec.action_s" -> actionS,
      "exec.jobs" -> ex.jobs.toDouble,
      "exec.stages" -> ex.stages.toDouble,
      "exec.tasks" -> ex.tasks.toDouble,
      "exec.task_run_s" -> ex.runMs / 1e3,
      "exec.task_cpu_s" -> ex.cpuNs / 1e9,
      "exec.core_util" -> ex.cpuNs / 1e9 / (actionS * cores),
      "exec.shuffle_write_mb" -> ex.shuffleWrite / 1e6,
      "exec.shuffle_read_mb" -> ex.shuffleRead / 1e6,
      "exec.spill_mb" -> ex.spill / 1e6,
      "exec.gc_s" -> actions.map(_.gcSeconds).sum,
      "exec.input_mb" -> ex.input / 1e6,
      "exec.stage_skew_max" -> ex.stageSkewMax) ++ pipelineStages(ss)
    val self = ss.groupBy(s => layer(s.name)).map { case (l, xs) =>
      l -> xs.map(tracer.selfSeconds).sum
    }
    (m, if (sinkPlanS == 0.0) self else self ++ Map(
      "catalyst" -> (self.getOrElse("catalyst", 0.0) + sinkPlanS),
      "io" -> (self.getOrElse("io", 0.0) - sinkPlanS)))
  }

  /** pipeline.extract_s / transform_s / load_s of the movies pipeline. */
  def pipelineStages(ss: Seq[Span]): Map[String, Double] =
    Seq("extract", "transform", "load").flatMap { st =>
      val xs = ss.filter(_.name == s"pipeline.$st")
      if (xs.isEmpty) None else Some(s"pipeline.${st}_s" -> sum(xs))
    }.toMap
}

object Analysis {
  /** Counts recorded per traced pass, to show which repeat exactly. */
  val Counts: Seq[String] = Seq("entry.construct_jobs", "exec.jobs",
    "exec.stages", "exec.tasks", "catalyst.plan_nodes", "catalyst.exchanges",
    "catalyst.scans", "catalyst.hof_sites", "catalyst.codegen_fallback",
    "catalyst.unpartitioned_windows")
}

/** Layer probes of the traced run, over the workload's own inputs: kernel
  * throughput (`functions`), scan and sink calls (`io`), the movies
  * pipeline's stage functions (`ops`), and for the workloads that do not
  * run it, one pass of the movies pipeline on their small movies input. */
final class Probes(spark: SparkSession, o: Main.Opts, tracer: Tracer, runner: Runner) {
  private val in = o.inputs
  private val movies = o.workload == "movies_etl"
  private val ProbeRows = 5000L

  private def time(name: String)(body: => Unit): Double = tracer.span(name) {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }
  /** Runs `body` twice and keeps the second (warm) time. */
  private def warm(name: String)(body: => Unit): Double = { time(name)(body); time(name)(body) }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `df` repeated to at least ProbeRows rows and held in memory. */
  private def amplified(df: DataFrame): (DataFrame, Long) = {
    val n = math.max(1L, df.count())
    val k = math.max(1L, (ProbeRows + n - 1) / n)
    val a = df.withColumn("__r", explode(sequence(lit(1), lit(k.toInt)))).drop("__r")
      .localCheckpoint()
    (a, n * k)
  }

  private def probeFrames: (DataFrame, DataFrame, DataFrame) = o.workload match {
    case "llm_prep" =>
      val d = graft.Tables.documents(spark, in)
      (d.select(col("text")),
        d.select(concat(lit("$"), col("n_chars"), lit(" million")).alias("money")),
        graft.Tables.embeddings(spark, in)
          .select(col("embedding").cast("array<double>").alias("vec")))
    case _ =>
      val k = IO.readCsv(spark, s"$in/movies/kaggle.csv", Movies.KaggleSchema)
      val w = IO.readJsonArray(spark, s"$in/movies/wiki.json")
      (k.select(concat_ws(" ", col("title"), col("overview")).alias("text")),
        w.select(col("`Box office`").cast("string").alias("money"))
          .filter(col("money").isNotNull),
        IO.readCsv(spark, s"$in/movies/ratings.csv", Movies.RatingsSchema)
          .select(array(col("rating"), col("userId").cast("double"),
            col("movieId").cast("double")).alias("vec")))
  }

  def functions(): Seq[(String, Double)] = {
    val (text, money, vec) = probeFrames
    val (t, nt) = amplified(text)
    val (m, nm) = amplified(money)
    val (v, nv) = amplified(vec)
    val toks = split(col("text"), " ")
    Seq(
      "parse_dollars" -> (m, nm, GraftFunctions.parse_dollars(col("money"))),
      "minhash_sig" -> (t, nt, MinHashSig.minhash_sig(toks, 64)),
      "vec_math" -> (v, nv, VecMath.dot(col("vec"), col("vec"))),
      "word_bigrams" -> (t, nt, TextStats.word_bigrams(toks, " ")),
      "lang_id" -> (t, nt, TextAnalysis.langId(col("text")))
    ).map { case (name, (df, n, kernel)) =>
      s"functions.$name.rows_per_s" -> n / warm(s"functions.$name") { noop(df.select(kernel)) }
    }
  }

  def io(): Seq[(String, Double)] = {
    val json = if (movies) s"$in/movies/wiki.json" else s"$in/probe.json"
    val csv = if (movies) s"$in/movies/ratings.csv" else s"$in/probe.csv"
    val header = scala.io.Source.fromFile(csv).getLines().next()
    val schema = StructType(header.split(",").toSeq
      .map(h => StructField(h.stripPrefix("\"").stripSuffix("\""), StringType)))
    val jsonS = warm("io.json_infer") { IO.readJsonArray(spark, json) }
    val csvS = warm("io.csv_scan") { noop(IO.readCsv(spark, csv, schema)) }
    val df = IO.readCsv(spark, csv, schema).localCheckpoint()
    val out = s"${o.work}/probe.parquet"
    val parquetS = warm("io.parquet_write") { IO.writeParquet(df, out) }
    val files = new File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    val bytes = files.map(_.length).sum
    val slice = df.limit(2000).localCheckpoint()
    val url = s"jdbc:derby:${o.work}/probe-derby;create=true"
    val jdbcS = warm("io.jdbc_append") {
      IO.writeJdbcAppend(slice, url, "probe_rows", numPartitions = 2, batchSize = 1000)
    }
    Seq("io.json_infer_s" -> jsonS, "io.csv_scan_s" -> csvS,
      "io.parquet_write_mb_per_s" -> bytes / 1e6 / parquetS,
      "io.jdbc_rows_per_s" -> slice.count() / jdbcS,
      "io.bytes_written_mb" -> bytes / 1e6, "io.files_written" -> files.length.toDouble)
  }

  /** Each MoviesEtl stage function on checkpointed inputs, executed to a
    * noop sink: construction plus execution of that stage alone. */
  def ops(): Seq[(String, Double)] = {
    val wiki = IO.readJsonArray(spark, s"$in/movies/wiki.json").localCheckpoint()
    val kaggle = IO.readCsv(spark, s"$in/movies/kaggle.csv", Movies.KaggleSchema).localCheckpoint()
    val ratings = IO.readCsv(spark, s"$in/movies/ratings.csv", Movies.RatingsSchema).localCheckpoint()
    val cw = MoviesEtl.cleanWiki(wiki).localCheckpoint()
    val ck = MoviesEtl.cleanKaggle(kaggle).localCheckpoint()
    Seq(
      "ops.clean_wiki_s" -> warm("ops.clean_wiki") { noop(MoviesEtl.cleanWiki(wiki)) },
      "ops.clean_kaggle_s" -> warm("ops.clean_kaggle") { noop(MoviesEtl.cleanKaggle(kaggle)) },
      "ops.join_movies_s" -> warm("ops.join_movies") { noop(MoviesEtl.joinMovies(cw, ck)) },
      "ops.rating_counts_s" -> warm("ops.rating_counts") {
        noop(MoviesEtl.ratingCounts(MoviesEtl.transformRatings(ratings)))
      })
  }

  /** One traced run of the movies pipeline over this workload's movies
    * input; its output is checked like the movies workload's. */
  def pipeline(an: Analysis): Seq[(String, Double)] = {
    runner.pass(Seq(Movies.Op), keepOutputs = false)
    an.pipelineStages(tracer.spans.filter(_.trace == tracer.trace).toSeq).toSeq
  }
}

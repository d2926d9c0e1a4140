package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import graft.io.{PartitionedWriter, Sources}
import graft.pipelines.{Enrich, MySqlIngest, XmlIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One benchmark run in a fresh JVM: set up, one first pass, then steady
  * passes until the measuring window is used up. Every top-level call
  * goes through a public entry point of the `pipelines`, `io` or
  * `queries` layer and is timed from outside. Results go to a JSON file
  * that `perfbench/run.py` checks and reduces to metrics.
  *
  * Arguments are `key=value`: workload, inputs, work, seconds, trace
  * (0|1), and for corpus_dedup the comma-separated queries.
  */
object Harness {

  /** One timed top-level call. Phases are seconds; `fields` carries
    * the call's outputs and, in traced passes, its engine counters. */
  final case class Call(name: String, startMs: Long, wall: Double, build: Double,
      plan: Double, exec: Double, error: Option[String], fields: Seq[(String, Any)])

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val queries = opt.get("queries").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)

    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val (stagesS, body) = timed {
      workload match {
        case "etl_daily" => new EtlDaily(spark, inputs, work)
        case _ => new QueryPasses(spark, inputs, work, queries)
      }
    }
    val (warmupS, _) = timed {
      spark.range(1000000).selectExpr("sum(id)").collect()
      body.warmup()
    }
    isolate(spark)

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[String]
    val runId = s"$workload-${System.currentTimeMillis()}"
    val window0 = System.nanoTime()
    var i = 0
    // first pass, then at least two steady passes (four when traced)
    // and as many more as the window allows; a traced run mixes traced
    // and untraced steady passes to measure the tracing overhead
    while (i == 0 || (System.nanoTime() - window0) / 1e9 < seconds ||
        i < (if (traced) 5 else 3)) {
      // traced: the first pass, then steady passes in the order
      // untraced, traced, traced, untraced, so warm-up drift cancels
      // out of the overhead
      val on = tracer.filter(_ => i == 0 || i % 4 == 2 || i % 4 == 3)
      on.foreach(_.register())
      val passStartMs = System.currentTimeMillis()
      val (elapsed, calls) = timed(body.pass(i, on))
      on.foreach(_.unregister())
      val wall = calls.map(_.wall).sum
      val passSpan = s"$runId/p$i"
      if (on.isDefined) {
        spans += Json(Seq("run" -> runId, "span" -> passSpan, "parent" -> null,
          "name" -> s"pass $i", "start_ms" -> passStartMs,
          "end_ms" -> (passStartMs + (wall * 1e3).toLong)))
        calls.foreach { c => spans ++= callSpans(runId, passSpan, c) }
      }
      passes += Json(Seq("index" -> i, "kind" -> (if (i == 0) "first" else "steady"),
        "traced" -> on.isDefined, "wall_s" -> wall, "elapsed_s" -> elapsed,
        "calls" -> calls.map(callJson)))
      i += 1
    }
    if (traced) Files.writeString(Paths.get(s"$work/spans.jsonl"), spans.map(_ + "\n").mkString)
    val result = Json(Seq(
      "workload" -> workload,
      "setup" -> Raw(Json(Seq("session_s" -> sessionS, "stages_s" -> stagesS, "warmup_s" -> warmupS))),
      "passes" -> passes.map(Raw(_)).toSeq))
    Files.writeString(Paths.get(s"$work/result.json"), result)
    spark.stop()
  }

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** The untimed gap between calls: drop cached blocks and collect the
    * driver heap so a call never inherits the previous one's memory. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Time `f` as one pipeline call. */
  def call(name: String, tracer: Option[Tracer])(f: => Seq[(String, Any)]): Call = {
    tracer.foreach(_.begin())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (fields, err) =
      try (f, None)
      catch { case e: Throwable => (Nil, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = startMs + (wall * 1e3).toLong
    // a pipeline call plans and executes inside itself: execute is the
    // wall covered by its jobs, plan the planner phases of its queries,
    // build the driver-side rest
    val c = tracer.map(_.end())
    val exec = c.map(_.jobSpanMs(startMs, endMs) / 1e3).getOrElse(0.0)
    val plan = c.map(_.planMs / 1e3).getOrElse(0.0)
    logged(Call(name, startMs, wall, math.max(0.0, wall - exec - plan), plan, exec, err,
      fields ++ c.map(_.fields(endMs)).getOrElse(Nil)))
  }

  /** Progress on stderr, one line per call. */
  def logged(c: Call): Call = {
    System.err.println(f"[perfbench] ${c.name} ${c.wall}%.3f s (build ${c.build}%.3f, " +
      f"plan ${c.plan}%.3f, exec ${c.exec}%.3f)${c.error.map(" FAILED " + _).getOrElse("")}")
    c
  }

  def callJson(c: Call): Raw = Raw(Json(Seq("name" -> c.name, "wall_s" -> c.wall,
    "build_s" -> c.build, "plan_s" -> c.plan, "exec_s" -> c.exec,
    "error" -> c.error.orNull) ++ c.fields))

  def callSpans(run: String, parent: String, c: Call): Seq[String] = {
    val id = s"$parent/${c.name}"
    val whole = Json(Seq("run" -> run, "span" -> id, "parent" -> parent, "name" -> c.name,
      "start_ms" -> c.startMs, "end_ms" -> (c.startMs + (c.wall * 1e3).toLong),
      "error" -> c.error.orNull) ++ c.fields.filterNot(_._1 == "digest"))
    var at = c.startMs.toDouble
    val phases = Seq("build" -> c.build, "plan" -> c.plan, "execute" -> c.exec).map {
      case (p, s) =>
        val span = Json(Seq("run" -> run, "span" -> s"$id/$p", "parent" -> id, "name" -> p,
          "start_ms" -> at.toLong, "end_ms" -> (at + s * 1e3).toLong))
        at += s * 1e3
        span
    }
    whole +: phases
  }

  /** Order-insensitive digest of a result: SHA-256 over its sorted rows. */
  def digest(rows: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update(0x1e.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The workload body: set up in the constructor, then passes. */
trait Workload {
  def warmup(): Unit
  def pass(i: Int, tracer: Option[graftbench.Tracer]): Seq[Harness.Call]
}

/** corpus_dedup: registered `SparkEntry.queries`, each
  * split into build (the query function, eager jobs included), plan
  * (`executedPlan`) and execute (`collect`). The first pass's results are
  * written for the DuckDB oracle check; every pass reports a digest. */
final class QueryPasses(spark: SparkSession, dir: String, work: String, names: Seq[String])
    extends Workload {
  import Harness._

  SparkEntry.stages.filter { case (n, _) => names.contains(n) }.foreach { case (_, fn) =>
    fn(spark, dir)
  }
  Files.writeString(Paths.get(s"$work/oracle_sql.json"),
    Json(SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }.toSeq))

  def warmup(): Unit = spark.read.parquet(s"$dir/lineitem.parquet").limit(10).collect()

  def pass(i: Int, tracer: Option[Tracer]): Seq[Call] = names.map { name =>
    tracer.foreach(_.begin())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var rows: Array[org.apache.spark.sql.Row] = null
    var schema: StructType = null
    val err = try {
      val df = SparkEntry.queries(name)(spark, dir)
      t1 = System.nanoTime()
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      rows = df.collect()
      schema = df.schema
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val t3 = System.nanoTime()
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    val buildEndMs = startMs + (t1 - t0) / 1000000
    val counters = tracer.map(_.end())
    val out = if (rows == null) Nil else {
      if (i == 0)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/results/$name")
      Seq("rows" -> rows.length, "digest" -> digest(rows.toSeq.map(_.toString)))
    }
    isolate(spark)
    logged(Call(name, startMs, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      (t3 - t2) / 1e9, err, out ++ counters.map(_.fields(buildEndMs)).getOrElse(Nil)))
  }
}

/** etl_daily: the reference day close. History is served from an
  * in-memory Derby database through `Sources.jdbcPushdown`, the XML API
  * through an in-memory `Sources.Fetcher`. Every pass writes to fresh
  * output paths, which `run.py` checks against DuckDB afterwards. */
final class EtlDaily(spark: SparkSession, dir: String, work: String) extends Workload {
  import Harness._

  private val meta = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.readTree(Files.readAllBytes(Paths.get(s"$dir/meta.json")))
  }
  private val day = meta.get("day").asText
  private val startClock = meta.get("start_clock").asLong
  private val endClock = meta.get("end_clock").asLong
  private val requests = meta.get("requests").elements.asScala.map(_.asText).toSeq
  private val payloads = requests.map(r =>
    r -> Files.readString(Paths.get(s"$dir/payloads/$r.csv"))).toMap
  private val fetcher = new Sources.Fetcher { def fetch(r: String): String = payloads(r) }

  private val url = "jdbc:derby:memory:history;create=true"
  private val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  locally {
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE history (itemid BIGINT, clock BIGINT, value DECIMAL(20,0))")
      st.execute("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'HISTORY', " +
        s"'$dir/history.csv', ',', null, null, 0)")
      st.execute("CREATE INDEX history_clock ON history(clock)")
      st.close()
    } finally conn.close()
  }

  private val hosts = spark.read.parquet(s"$dir/hosts.parquet")
  private val items = spark.read.parquet(s"$dir/items.parquet")
  private val remotes = spark.read.parquet(s"$dir/remotes.parquet")
  private val allowlist = Sources.csvWithSchema(spark, s"$dir/allowlist.csv",
    StructType(Seq(StructField("app_string", StringType))))

  def warmup(): Unit = hosts.limit(10).collect()

  /** Output partitions `PartitionedWriter`'s size-adaptive compaction
    * requests for the day's enriched frame, read off the optimized plan
    * without running it. Catalyst sizes the 4-way join as the product
    * of its inputs, so this is 2^20 (the writer's cap) on any input
    * beyond a few kilobytes, and `Enrich.run` then cannot finish a day
    * within the run budget. */
  def enrichPartitions(enriched: DataFrame): Int =
    PartitionedWriter.sizeAdaptive(enriched).queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions
    }.getOrElse(0)

  def pass(i: Int, tracer: Option[Tracer]): Seq[Call] = {
    val out = s"$work/passes/p$i"
    var pushdownS = 0.0
    val source = (a: Long, b: Long) => {
      val (s, df) = timed(Sources.jdbcPushdown(spark, url,
        s"SELECT itemid, clock, value FROM history WHERE clock >= $a AND clock < $b",
        user = "app", password = "app", driver = driver))
      pushdownS += s
      df
    }
    val calls = Seq(
      () => call("pipelines.MySqlIngest.run", tracer) {
        val n = MySqlIngest.run(spark, source, startClock, endClock, s"$out/fact")
        Seq("rows" -> n, "io.Sources.jdbcPushdown_s" -> pushdownS)
      },
      () => call("io.PartitionedWriter.maxPartition", tracer) {
        Seq("value" -> PartitionedWriter.maxPartition(spark, s"$out/fact").orNull)
      },
      () => call("pipelines.Enrich.run", tracer) {
        // Enrich.run minus the writer's size-adaptive compaction, which
        // asks for 2^20 shuffle partitions on this input (see
        // enrichPartitions): the same join, pivot and partitioned
        // write, read back the same way
        val fact = spark.read.parquet(s"$out/fact").withColumnRenamed("itemid", "item")
        val enriched = Enrich.pivotAndDerive(Enrich.enrich(remotes, hosts, items, fact, day), day)
        PartitionedWriter.writePartitioned(enriched, s"$out/enrich", compact = false)
        Seq("rows" -> spark.read.parquet(s"$out/enrich").filter(col("ds") === day).count(),
          "io.PartitionedWriter.enrich_partitions" -> enrichPartitions(enriched))
      },
      () => call("pipelines.XmlIngest.run", tracer) {
        Seq("rows" -> XmlIngest.run(spark, fetcher, requests, allowlist, day, s"$out/xml"))
      })
    calls.map { c => val r = c(); isolate(spark); r }
  }
}

/** A pre-rendered JSON value. */
final case class Raw(json: String)

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftSession
import graft.cypher.CypherParser
import graft.pipeline.{CacheRegistry, Dedup, Sampling, Similarity, TextAnalysis}
import graft.sources.TpchGraph

/** One operation of a plan, as written by run.py. */
final case class Op(id: Int, pass: Int, phase: String, shape: String,
    traced: Boolean, check: Boolean, spec: JsonNode)

/** A workload's graft-side state inside one Spark session. */
trait Workload {
  /** Run one operation, consuming all of its output; returns the row
    * count and an order-insensitive digest of the rows, plus the rows
    * themselves when `keep` is set. */
  def run(op: Op, t: Tracer, keep: Boolean): (Long, Long, Option[Array[Row]],
    Seq[String])
  /** Release every cache this workload's session owns. */
  def release(): Unit
  /** Seconds the constructor spent loading its sources. */
  def loadS: Double
}

/** Runs one plan in a closed loop: set up (several times), the cold pass,
  * the settle passes, then the timed loop. Usage: Runner <plan.json>.
  * Writes ops.jsonl, summary.json and, when tracing, spans.jsonl,
  * jobs.jsonl and stages.jsonl into the plan's output directory. */
object Runner {
  private val json = new ObjectMapper()
  /** No loop pass starts after this, whatever the pass count, so a slow
    * commit still finishes inside the run's time limit. */
  val MaxLoopS = 60.0

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val out = new File(plan.get("out").asText()); out.mkdirs()
    val cpus = plan.get("cpus").asInt()
    val seconds = plan.get("seconds").asDouble()
    val tracing = plan.get("trace").asBoolean()
    val ops = plan.get("ops").elements().asScala.map { n =>
      Op(n.get("id").asInt(), n.get("pass").asInt(), n.get("phase").asText(),
        n.get("shape").asText(), n.get("traced").asBoolean(),
        n.get("check").asBoolean(), n)
    }.toVector
    val fallbacks = CodegenLog.install()

    // set-up, three times: the first is timed from JVM start and creates
    // the Spark context; the others open a new SparkSession on it, then set
    // the workload up from scratch (graft session, graph or corpus load,
    // warm-up query)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = ArrayBuffer.empty[Double]
    val loadS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (k <- 0 until plan.get("setups").asInt()) {
      val t0 = if (k == 0)
        System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
        else System.nanoTime()
      spark = if (spark != null) spark.newSession() else SparkSession.builder()
        .master(s"local[$cpus]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", new File(out, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      w = plan.get("kind").asText() match {
        case "cypher" => new CypherWorkload(spark, plan.get("data").asText())
        case "pipeline" => new PipelineWorkload(spark, plan.get("data").asText())
      }
      loadS += w.loadS
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val listener = new ExecListener
    if (tracing) sc.addSparkListener(listener)
    val tracer = new Tracer(sc, tracing)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs

    val opsOut = new PrintWriter(new File(out, "ops.jsonl"))
    val resultsDir = new File(out, "results"); resultsDir.mkdirs()
    var cachePeak = (0, 0L)
    def runOp(op: Op): Unit = {
      val t = if (tracing && op.traced) tracer else Tracer.off
      t.op = op.id
      val t0 = System.nanoTime()
      val res = try Right(t.span("op")(w.run(op, t, op.check)))
        catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val rec = new java.util.LinkedHashMap[String, Any]()
      rec.put("id", op.id); rec.put("pass", op.pass); rec.put("phase", op.phase)
      rec.put("shape", op.shape); rec.put("traced", t.enabled)
      rec.put("latency_s", dt)
      res match {
        case Right((n, digest, rows, cols)) =>
          rec.put("ok", true); rec.put("rows", n)
          rec.put("digest", java.lang.Long.toString(digest))
          rows.foreach(r => Results.write(new File(resultsDir, s"${op.id}.json"), cols, r))
        case Left(e) =>
          rec.put("ok", false)
          rec.put("error", (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(400))
      }
      opsOut.println(json.writeValueAsString(rec))
      if (tracing) {
        val infos = sc.getRDDStorageInfo
        val mb = infos.map(i => i.memSize + i.diskSize).sum
        if (infos.length > cachePeak._1 || mb > cachePeak._2)
          cachePeak = (math.max(cachePeak._1, infos.length), math.max(cachePeak._2, mb))
      }
    }

    def timed(phase: String): Double = {
      val t0 = System.nanoTime()
      ops.filter(_.phase == phase).foreach(runOp)
      (System.nanoTime() - t0) / 1e9
    }
    val coldS = timed("cold")
    val settleS = timed("settle")
    val loop = ops.filter(_.phase == "loop")
    val l0 = System.nanoTime()
    def elapsed = (System.nanoTime() - l0) / 1e9
    // whole passes, until `seconds` have passed and at least `minPasses`
    // ran: every run then times the same mix of shapes or stages
    val minPasses = plan.get("min_passes").asInt()
    val passes = loop.groupBy(_.pass).toVector.sortBy(_._1).map(_._2)
    var done = 0
    while (done < passes.size && (done < minPasses || elapsed < seconds) &&
        elapsed < Runner.MaxLoopS) {
      passes(done).foreach(runOp); done += 1
    }
    val timedS = elapsed
    opsOut.close()
    val gcS = (gcMs - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    if (tracing) listener.drain(sc)
    val r0 = System.nanoTime()
    tracer.op = -1
    tracer.span("cache.release")(w.release())
    val releaseS = (System.nanoTime() - r0) / 1e9
    val afterRelease = Results.cacheEntries(spark)

    if (tracing) {
      Results.writeLines(new File(out, "spans.jsonl"), tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "compiles" -> s.compiles,
          "compile_ns" -> s.compileNs)
      })
      Results.writeLines(new File(out, "jobs.jsonl"), listener.jobs.map {
        case (j, s, a, b) => Map("job" -> j, "span" -> s, "start_ms" -> a, "end_ms" -> b)
      })
      Results.writeLines(new File(out, "stages.jsonl"), listener.stages.values.map { a =>
        val ms = a.taskMs.sorted
        Map("stage" -> a.stage, "span" -> a.span, "tasks" -> ms.size,
          "task_ms" -> ms.sum, "wait_ms" -> a.waitMs,
          "max_task_ms" -> (if (ms.isEmpty) 0L else ms.last),
          "median_task_ms" -> (if (ms.isEmpty) 0L else ms(ms.size / 2)),
          "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
          "spill" -> a.spill, "input" -> a.input, "output" -> a.output,
          "gc_ms" -> a.gcMs, "failed" -> a.failed)
      })
    }
    val summary = Map[String, Any](
      "setup_s" -> setupS.asJava, "graph_load_s" -> loadS.asJava,
      "cold_pass_s" -> coldS, "settle_s" -> settleS, "timed_s" -> timedS,
      "peak_rss_mb" -> Results.peakRssMb(), "jvm_gc_s" -> gcS,
      "heap_peak_mb" -> heapPeakMb, "cache_entries_peak" -> cachePeak._1,
      "cache_mb_peak" -> cachePeak._2 / 1048576.0,
      "cache_entries_after_release" -> afterRelease,
      "cache_release_s" -> releaseS,
      "codegen_fallbacks" -> fallbacks.get(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "cpus" -> cpus)
    val sw = new PrintWriter(new File(out, "summary.json"))
    sw.println(json.writeValueAsString(summary.asJava)); sw.close()
    spark.stop()
  }
}

/** Graft's Cypher session over the TPC-H graph, set up the way the gates
  * set it up: one GraftSession with auto-consolidation. */
final class CypherWorkload(spark: SparkSession, dir: String) extends Workload {
  private val gs = GraftSession(spark)
  gs.enableAutoConsolidation()
  private val l0 = System.nanoTime()
  private val tpch = TpchGraph.load(spark, dir)
  val loadS = (System.nanoTime() - l0) / 1e9
  private val lastFrame = scala.collection.mutable.Map.empty[Any, DataFrame]

  // warm-up: one small query through parse, plan and execution
  gs.cypher(tpch, "MATCH (r:Region) RETURN count(*) AS n").collect()

  def run(op: Op, t: Tracer, keep: Boolean) = {
    val text = op.spec.get("text").asText()
    val params = Results.params(op.spec.get("params"))
    val df = t.span("api.cypher")(gs.cypher(tpch, text, params))
    if (t.enabled) {
      // the plan cache hands back the same DataFrame on a hit; only a
      // miss parsed the text, so only a miss gets a parse span
      val key = (text, params)
      val hit = lastFrame.get(key).exists(_ eq df)
      lastFrame(key) = df
      if (hit) t.span("api.plan_cache_hit")(())
      else t.span("cypher.parse")(CypherParser.parse(text))
      t.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
      t.span("catalyst.physical")(df.queryExecution.executedPlan)
    }
    val rows = t.span("exec.collect")(df.collect())
    (rows.length.toLong, Results.digest(rows), if (keep) Some(rows) else None,
      df.columns.toSeq)
  }

  def release(): Unit = {
    gs.releaseQueryCaches()
    gs.releaseAutoConsolidation()
  }
}

/** The pipeline chain: each stage reads its input parquet and writes its
  * output parquet; caches the operators make go to one tracked registry. */
final class PipelineWorkload(spark: SparkSession, dir: String) extends Workload {
  private val caches = new CacheRegistry()
  private val l0 = System.nanoTime()
  private val docs = spark.read.parquet(s"$dir/documents.parquet")
  val loadS = (System.nanoTime() - l0) / 1e9

  // warm-up: one small read through the parquet path
  docs.limit(10).collect()

  def run(op: Op, t: Tracer, keep: Boolean) = {
    val s = op.spec
    def read(key: String) = t.span("sources.read")(
      spark.read.parquet(s.get(key).asText()))
    def num(key: String) = s.get(key).asDouble()
    val df = t.span("pipeline.build") { s.get("stage").asText() match {
      case "exact_dedup" =>
        val d = read("input")
        d.join(Dedup.exact(d, "doc_id", Seq("text"))
          .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      case "near_dup" =>
        val d = read("input")
        val pairs = Dedup.ngramJaccard(d, "doc_id", "text", n = 3,
          threshold = num("threshold"), maxDocFreq = 5000, caches = caches)
        val best = Dedup.keepBestPerCluster(
          d.withColumn("score", length(col("text")).cast("double")),
          "doc_id", "score", pairs, "id_a", "id_b")
        d.join(best.where(col("kept")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_semi")
      case "signals" =>
        val d = read("input")
        d.join(TextAnalysis.qualityScore(d, "doc_id", "text")
            .select("doc_id", "quality"), Seq("doc_id"))
          .join(TextAnalysis.repetitionStats(d, "doc_id", "text")
            .select("doc_id", "dup_token_frac", "dup_2gram_frac"), Seq("doc_id"))
          .join(TextAnalysis.redactPii(d, "doc_id", "text")
            .select("doc_id", "redacted"), Seq("doc_id"))
          .select(col("doc_id"), col("redacted").as("text"), col("lang"),
            col("source"), col("quality"), col("dup_token_frac"),
            col("dup_2gram_frac"))
      case "span_strip" =>
        val d = read("input")
        d.join(Dedup.stripDuplicateSpans(d, "doc_id", "text", window = 64,
            stride = 16), Seq("doc_id"))
          .select(col("doc_id"), col("cleaned_text").as("text"), col("lang"),
            col("source"))
      case "token_budget" =>
        Sampling.takeTokenBudget(read("input"), "doc_id", "text",
          budget = s.get("budget").asLong(), caches = caches)
          .select("doc_id", "text", "source", "n_tokens")
      case "mixture" =>
        val shares = s.get("shares").fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
        Sampling.mixtureByTokens(read("input"), "doc_id", "text", "source",
          totalBudget = s.get("budget").asLong(), shares = shares,
          defaultShare = num("default_share"), caches = caches)
          .select("doc_id", "text", "source", "n_tokens")
      case "pack" =>
        Sampling.packSequences(read("input"), "doc_id", "text", "source",
          capacity = s.get("capacity").asLong())
      case "emb_near_dup" =>
        Dedup.embeddingNearDup(read("input"), "vec_id", "embedding",
          threshold = num("threshold"))
      case "components" =>
        Dedup.connectedComponents(read("input"), "vec_id", read("pairs"),
          "id_a", "id_b")
      case "topk" =>
        val e = read("input")
        val reps = read("clusters").where(col("id") === col("cluster"))
          .select(col("id").as("vec_id"))
        val ids = s.get("queries").elements().asScala.map(_.asLong()).toSeq
        Similarity.blockTopKFor(e.where(col("vec_id").isin(ids: _*)),
          e.join(reps, Seq("vec_id"), "left_semi"), "vec_id", "embedding",
          k = s.get("k").asInt())
    } }
    if (t.enabled) {
      t.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
      t.span("catalyst.physical")(df.queryExecution.executedPlan)
    }
    t.span("exec.write")(df.write.mode("overwrite").parquet(s.get("output").asText()))
    (-1L, 0L, None, df.columns.toSeq)
  }

  def release(): Unit = caches.release()
}

/** Counts log events from Spark's code generators at WARN or above: each
  * is a compile failure that fell back to interpreted evaluation. */
object CodegenLog {
  def install(): AtomicLong = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val n = new AtomicLong()
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
          e.getLoggerName.toLowerCase.contains("codegen")) n.incrementAndGet()
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    n
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.engine.{Ingest, LakeDml, LakeTable}

/** The benchmark's JVM side: one process runs one workload.
  *
  * Usage: perfbench.Harness <config.json>
  *
  * The config (written by run.py) names the workload, the generated
  * inputs, the seeded operation order and the length of the timed
  * section. The harness builds one local session, records when it is
  * ready, then runs whole passes until `seconds` have elapsed (at least
  * one; the first pass pays the session's JIT and code-generation
  * warm-up, which a user's first pass pays too). A workload is one or
  * more parts run in turn within each pass. The harness writes
  * `result.json` (raw per-pass timings and layer counters) and, after
  * all timing is over, the outputs the checker compares. With
  * `trace` on it also registers a SparkListener and writes one JSON
  * line per span to `trace.jsonl` when the run ends.
  *
  * Only the program's public surface is called: SparkEntry.queries /
  * oracleSql, graft.Pipeline.runFile, Ingest.ingestBatch, LakeDml and
  * LakeTable.
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val out = Paths.get(cfg.get("out").asText())
    val cpus = cfg.get("cpus").asInt()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cfg.get("partitions").asInt().toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = mapper.createObjectNode()
    result.put("ready_ms", System.currentTimeMillis())
    val trace = new Trace(spark, cfg.get("trace").asBoolean())
    val parts: Seq[Part] = cfg.get("workload").asText() match {
      case "tpch"        => Seq(new Tpch(spark, cfg, trace, result))
      case "corpus_lake" => Seq(new Corpus(spark, cfg, trace, result),
                                new Lake(spark, cfg, trace, result))
      case other         => sys.error(s"unknown workload $other")
    }
    passes(cfg, trace, result, parts)
    parts.foreach(_.finish())
    result.put("peak_rss_kb", peakRssKb())
    result.put("jvm_gc_s", java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3)
    result.put("jvm_jit_s",
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
    trace.finish(out.resolve("trace.jsonl"), result)
    Files.writeString(out.resolve("result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }

  /** VmHWM of this process: the peak resident set, in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Runs whole passes until `seconds` have elapsed, at least one. Per
    * pass it records the seconds the parts count (`pass_s`), the wall
    * time and the process CPU time (`cpu_s`). */
  def passes(cfg: JsonNode, trace: Trace, result: ObjectNode, parts: Seq[Part]): Unit = {
    val budgetNs = (cfg.get("seconds").asDouble() * 1e9).toLong
    val walls = result.putArray("wall_s")
    val passS = result.putArray("pass_s")
    val cpuS = result.putArray("cpu_s")
    trace.markTimedStart()
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || System.nanoTime() - t0 < budgetNs) {
      val (t, c) = (System.nanoTime(), cpuNs())
      val (counted, _) = trace.span("pass", Map("pass" -> n))(parts.map(_.pass(n)).sum)
      walls.add(secs(t)); passS.add(counted); cpuS.add((cpuNs() - c) / 1e9)
      n += 1
    }
    trace.markTimedEnd(n)
    result.put("timed_passes", n)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def doubles(xs: Iterable[Double]): ArrayNode = {
    val a = mapper.createArrayNode(); xs.foreach(a.add(_)); a
  }

  /** Writes collected rows as JSON: column names plus rows of plain
    * values (doubles printed so they parse back to the same double). */
  def writeRows(path: Path, columns: Seq[String], rows: Iterable[Row]): Unit = {
    val o = mapper.createObjectNode()
    val cs = o.putArray("columns"); columns.foreach(cs.add)
    val rs = o.putArray("rows")
    rows.foreach(r => rs.add(rowJson(r)))
    Files.createDirectories(path.getParent)
    Files.writeString(path, mapper.writeValueAsString(o))
  }

  private def rowJson(r: Row): ArrayNode = {
    val a = mapper.createArrayNode()
    (0 until r.length).foreach(i => a.add(valueJson(r.get(i))))
    a
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def valueJson(v: Any): JsonNode = {
    val f = mapper.getNodeFactory
    v match {
      case null                       => f.nullNode()
      case b: Boolean                 => f.booleanNode(b)
      case x: Byte                    => f.numberNode(x.toLong)
      case x: Short                   => f.numberNode(x.toLong)
      case x: Int                     => f.numberNode(x.toLong)
      case x: Long                    => f.numberNode(x)
      case x: Float                   => f.numberNode(x.toDouble)
      case x: Double                  => f.numberNode(x)
      case x: java.math.BigDecimal    => f.textNode("decimal:" + x.toPlainString)
      case x: String                  => f.textNode(x)
      case x: java.sql.Timestamp      =>
        f.textNode("ts:" + tsFmt.format(x.toInstant.atZone(java.time.ZoneOffset.UTC)))
      case x: java.time.Instant       =>
        f.textNode("ts:" + tsFmt.format(x.atZone(java.time.ZoneOffset.UTC)))
      case x: java.time.LocalDateTime => f.textNode("ts:" + tsFmt.format(x))
      case x: java.sql.Date           => f.textNode("date:" + x.toLocalDate.toString)
      case x: java.time.LocalDate     => f.textNode("date:" + x.toString)
      case x: Array[Byte]             =>
        f.textNode("bytes:" + x.map("%02x".format(_)).mkString)
      case x: Row                     => rowJson(x)
      case x: scala.collection.Seq[_] =>
        val a = mapper.createArrayNode(); x.foreach(e => a.add(valueJson(e))); a
      case other => f.textNode("?" + other.toString)
    }
  }
}

/** One workload's share of a pass. */
trait Part {
  /** Runs the part once; returns the seconds it adds to `pass_s`. */
  def pass(i: Int): Double
  /** Records the part's timings and writes the outputs to check. */
  def finish(): Unit
}

/** Spans and SparkListener counters for a traced run. Off, it keeps
  * nothing and registers nothing. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private case class Span(id: Int, parent: Int, name: String, start: Long,
                          end: Long, attrs: Map[String, Any])
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private val origin = System.nanoTime()

  final class Counters extends SparkListener {
    val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead,
      spill, input = new AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    def snapshot: Map[String, Double] = Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_cpu_s" -> cpuNs.get / 1e9,
      "spark.task_gc_s" -> gcMs.get / 1e3,
      "spark.shuffle_write_mb" -> shuffleWrite.get / 1e6,
      "spark.shuffle_read_mb" -> shuffleRead.get / 1e6,
      "spark.spill_mb" -> spill.get / 1e6,
      "tables.input_mb" -> input.get / 1e6)
  }

  private val counters: Option[Counters] =
    if (enabled) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
  private var atStart: Map[String, Double] = Map.empty
  private var atEnd: Map[String, Double] = Map.empty
  private var timedPasses = 0

  /** Times `body`; with tracing on, records it as a span under the
    * innermost open span. Returns the result and the seconds taken. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Double) = {
    val id = nextId
    if (enabled) { nextId += 1; stack = id :: stack }
    val t0 = System.nanoTime()
    val r = try body finally if (enabled) stack = stack.tail
    val t1 = System.nanoTime()
    if (enabled) spans += Span(id, stack.head, name, t0 - origin, t1 - origin, attrs)
    (r, (t1 - t0) / 1e9)
  }

  /** Listener events arrive asynchronously; a short pause before each
    * read lets the bus drain. Only traced runs pay it, outside timing. */
  private def settled(): Map[String, Double] = counters.map { c =>
    Thread.sleep(500); c.snapshot
  }.getOrElse(Map.empty)

  def markTimedStart(): Unit = atStart = settled()
  def markTimedEnd(passes: Int): Unit = { atEnd = settled(); timedPasses = passes }

  /** Listener counters per timed pass. */
  def perPass: Map[String, Double] =
    if (timedPasses == 0) Map.empty
    else atEnd.map { case (k, v) => k -> (v - atStart.getOrElse(k, 0.0)) / timedPasses }

  def finish(path: Path, result: ObjectNode): Unit = if (enabled) {
    val c = result.putObject("counters")
    perPass.foreach { case (k, v) => c.put(k, v) }
    val m = new ObjectMapper()
    val lines = spans.sortBy(_.start).map { s =>
      val o = m.createObjectNode()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      o.put("start_ns", s.start); o.put("end_ns", s.end)
      s.attrs.foreach {
        case (k, v: Int)    => o.put(k, v)
        case (k, v: Long)   => o.put(k, v)
        case (k, v: Double) => o.put(k, v)
        case (k, v)         => o.put(k, v.toString)
      }
      m.writeValueAsString(o)
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** `tpch`: the 22 TPC-H keys in a seeded order per pass, each result
  * collected in full. Construction (the registry call), planning (up
  * to the executed plan) and execution are timed apart. */
final class Tpch(spark: SparkSession, cfg: JsonNode, trace: Trace, result: ObjectNode)
    extends Part {
  import Harness._

  private val data = cfg.get("data").asText()
  private val out = Paths.get(cfg.get("out").asText())
  private val keys = strings(cfg.get("tpch").get("keys"))
  private val orders =
    cfg.get("tpch").get("orders").elements().asScala.map(strings).toIndexedSeq
  private val queries = graft.SparkEntry.queries
  private val constructS, planS, execS = ArrayBuffer[Double]()
  private val perKey = keys.map(_ -> ArrayBuffer[Double]()).toMap
  private var last = Map.empty[String, (Seq[String], Array[Row])]

  def pass(i: Int): Double = {
    var c, p, e = 0.0
    val rows = scala.collection.mutable.Map[String, (Seq[String], Array[Row])]()
    val t0 = System.nanoTime()
    orders(i % orders.size).foreach { key =>
      val (_, keyS) = trace.span(s"tpch.$key") {
        val (df, cS) = trace.span("queries.construct")(queries(key)(spark, data))
        val (_, pS) = trace.span("plan.plan")(df.queryExecution.executedPlan)
        val (rs, eS) = trace.span("exec.exec")(df.collect())
        c += cS; p += pS; e += eS
        rows(key) = (df.columns.toSeq, rs)
      }
      perKey(key) += keyS
    }
    constructS += c; planS += p; execS += e
    last = rows.toMap
    secs(t0)
  }

  def finish(): Unit = {
    result.set[JsonNode]("construct_s", doubles(constructS))
    result.set[JsonNode]("plan_s", doubles(planS))
    result.set[JsonNode]("exec_s", doubles(execS))
    val pk = result.putObject("key_s")
    perKey.foreach { case (k, v) => pk.set[JsonNode](k, doubles(v)) }
    last.foreach { case (k, (cols, rs)) =>
      writeRows(out.resolve(s"outputs/$k.json"), cols, rs)
    }
    val o = mapper.createObjectNode()
    keys.foreach(k => o.put(k, graft.SparkEntry.oracleSql(k)))
    Files.writeString(out.resolve("oracle_sql.json"), mapper.writeValueAsString(o))
  }
}

/** File-tree helpers for the run directory. */
object Tree {
  def entries(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator().asScala.toSeq

  def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala.toSeq

  def delete(dir: Path): Unit = walk(dir).reverse.foreach(Files.delete)

  def sizes(dir: Path): Map[String, Long] =
    walk(dir).filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
}

/** The LLM-data DAG through graft.Pipeline. Each pass empties the
  * stage cache root and the engine artifact root, runs the DAG cold,
  * records which engine artifacts the cold run left under the per-run
  * root, then re-runs the DAG unchanged. */
final class Corpus(spark: SparkSession, cfg: JsonNode, trace: Trace, result: ObjectNode)
    extends Part {
  import Harness._
  import Tree._

  private val data = cfg.get("data").asText()
  private val out = Paths.get(cfg.get("out").asText())
  private val c = cfg.get("corpus")
  private val dag = c.get("dag").asText()
  private val stageRoot = Paths.get(c.get("stage_root").asText())
  private val engineRoot = Paths.get(c.get("engine_root").asText())
  private val coldOut = out.resolve("cold")
  private val rerunOut = out.resolve("rerun")
  private val coldS, rerunS, writtenMb = ArrayBuffer[Double]()
  private val runs = mapper.createArrayNode()
  private var emptyBeforeCold = true

  def pass(i: Int): Double = {
    Seq(stageRoot, engineRoot, coldOut, rerunOut).foreach(delete)
    emptyBeforeCold &&= entries(stageRoot).isEmpty && entries(engineRoot).isEmpty
    val (_, cold) = trace.span("pipeline.cold")(
      graft.Pipeline.runFile(spark, dag, data, coldOut.toString))
    val written = (sizes(stageRoot).values.sum + sizes(engineRoot).values.sum) / 1e6
    // the engine artifacts the cold run completed under the per-run root,
    // by name without their content hash (e.g. "neardup_pairs")
    val artifacts = entries(engineRoot).filter(p => Files.exists(p.resolve("_SUCCESS")))
      .map(_.getFileName.toString.replaceAll("-[^-]*$", "")).sorted
    val (_, rerun) = trace.span("pipeline.rerun")(
      graft.Pipeline.runFile(spark, dag, data, rerunOut.toString))
    coldS += cold; rerunS += rerun; writtenMb += written
    val r = mapper.createObjectNode()
    artifacts.foreach(r.putArray("engine_artifacts").add)
    r.put("stage_entries", entries(stageRoot).size)
    r.set[JsonNode]("cold", mapper.readTree(coldOut.resolve("_run.json").toFile))
    r.set[JsonNode]("rerun", mapper.readTree(rerunOut.resolve("_run.json").toFile))
    runs.add(r)
    cold + rerun
  }

  /** The stage outputs of the last pass stay in cold/ and rerun/ for
    * the checker; the oracle texts of the query stages go beside them. */
  def finish(): Unit = {
    result.put("empty_before_cold", emptyBeforeCold)
    result.set[JsonNode]("cold_s", doubles(coldS))
    result.set[JsonNode]("rerun_s", doubles(rerunS))
    result.set[JsonNode]("cache_written_mb", doubles(writtenMb))
    result.set[JsonNode]("runs", runs)
    val o = mapper.createObjectNode()
    strings(c.get("query_keys")).foreach(k => o.put(k, graft.SparkEntry.oracleSql(k)))
    Files.writeString(out.resolve("oracle_sql.json"), mapper.writeValueAsString(o))
  }
}

/** A seeded schedule of document batches through Ingest.ingestBatch
  * (maintenance on), interleaved with LakeDml MERGE / UPDATE / DELETE
  * statements on an orders-derived LakeTable and with full reads at
  * the latest and at earlier versions. Each pass runs the schedule
  * against a fresh lake root; the seconds it counts are the sum of the
  * scheduled calls. */
final class Lake(spark: SparkSession, cfg: JsonNode, trace: Trace, result: ObjectNode)
    extends Part {
  import Harness._
  import Tree._

  private val out = Paths.get(cfg.get("out").asText())
  private val l = cfg.get("lake")
  private val batches = strings(l.get("batches"))
  private val schedule = l.get("schedule").elements().asScala.toSeq
  private val maint = Ingest.IngestMaintenance(everyBatches = l.get("maint_every").asInt())
  private val series = Seq("ingest_s", "maint_s", "merge_s", "update_s", "delete_s",
    "read_s", "write_mb", "rewrite_mb", "commits", "log_files", "data_files")
    .map(_ -> ArrayBuffer[Double]()).toMap
  private var lastReads = Seq.empty[(String, Seq[String], Array[Row])]
  private var lastRoot: Option[Path] = None

  def pass(i: Int): Double = {
    val root = out.resolve(s"lake-$i")
    val ingest = root.resolve("ingest").toString
    val orders = root.resolve("orders").toString
    def rec(k: String, v: Double): Unit = series(k) += v
    // bytes of files that appeared since the last look (lake files are
    // never rewritten in place, so a new name is new bytes)
    var seen = Map.empty[String, Long]
    var written, rewritten = 0L
    def sweep(): Long = {
      val now = sizes(root)
      val fresh = now.iterator.filterNot(e => seen.contains(e._1)).map(_._2).sum
      seen = now; written += fresh; fresh
    }
    LakeTable.append(spark.read.parquet(l.get("orders_base").asText()), orders)
    sweep()
    val versions = ArrayBuffer(LakeTable.latestVersion(spark, orders).get)
    val batchVersion = scala.collection.mutable.Map[Int, Long]()
    val reads = ArrayBuffer[(String, Seq[String], Array[Row])]()
    def dml(kind: String)(run: => LakeDml.DmlReport): Double = {
      val (_, s) = trace.span(s"lakedml.$kind")(run)
      rec(s"${kind}_s", s)
      versions += LakeTable.latestVersion(spark, orders).get
      rewritten += sweep()
      s
    }
    def range(op: JsonNode): Column =
      col("o_orderkey").between(op.get("lo").asLong(), op.get("hi").asLong())
    val counted = schedule.map { op =>
      op.get("op").asText() match {
        case "ingest" =>
          val b = op.get("batch").asInt()
          val due = (b + 1) % maint.everyBatches == 0
          val (_, s) = trace.span("ingest.batch", Map("batch" -> b, "maintenance" -> due))(
            Ingest.ingestBatch(spark.read.parquet(batches(b)), ingest, "perfbench", b.toLong,
              threshold = l.get("threshold").asDouble(),
              filter = Some(Ingest.tooShortRule(l.get("min_chars").asInt())),
              maintenance = Some(maint)))
          rec("ingest_s", s)
          if (due) rec("maint_s", s)
          batchVersion(b) = LakeTable.latestVersion(spark, Ingest.docsRoot(ingest)).get
          s
        case "merge" =>
          dml("merge")(LakeDml.mergeInto(spark, orders,
            spark.read.parquet(op.get("updates").asText()), "o_orderkey"))
        case "update" =>
          dml("update")(LakeDml.updateWhere(spark, orders,
            range(op) && col("o_orderstatus") === lit(op.get("status").asText()),
            Map("o_totalprice" -> (col("o_totalprice") + lit(op.get("delta").asDouble())))))
        case "delete" =>
          dml("delete")(LakeDml.deleteWhere(spark, orders,
            range(op) && col("o_orderpriority") === lit(op.get("priority").asText())))
        case "read" =>
          val (table, asOf) = op.get("table").asText() match {
            case "orders" => (orders, versions(versions.size - 1 - op.get("back").asInt()))
            case _        => (Ingest.docsRoot(ingest), batchVersion(op.get("batch").asInt()))
          }
          val ((cols, rows), s) = trace.span("laketable.read", Map("asof" -> asOf)) {
            val df = LakeTable.read(spark, table, Some(asOf))
            (df.columns.toSeq, df.collect())
          }
          rec("read_s", s)
          reads += ((op.get("name").asText(), cols, rows))
          s
      }
    }.sum
    sweep()
    rec("write_mb", written / 1e6)
    rec("rewrite_mb", rewritten / 1e6)
    val tables = Seq(orders, Ingest.docsRoot(ingest), Ingest.bandsRoot(ingest),
      Ingest.rejectsRoot(ingest), Ingest.filteredRoot(ingest))
    rec("commits", tables.map(LakeTable.versions(spark, _).size).sum)
    val files = tables.flatMap(t => walk(Paths.get(t))).filter(Files.isRegularFile(_))
    val (log, data) = files.map(_.toString).partition(_.contains("/_graft_log/"))
    rec("log_files", log.count(!_.contains("/blooms/")))
    rec("data_files", data.count(_.endsWith(".parquet")))
    lastReads = reads.toSeq
    lastRoot.foreach(delete)
    lastRoot = Some(root)
    counted
  }

  /** Writes the last pass's reads and the final tables, read
    * after all timing, then drops its lake root. */
  def finish(): Unit = {
    series.foreach { case (k, v) => result.set[JsonNode](k, doubles(v)) }
    lastReads.foreach { case (name, cols, rows) =>
      writeRows(out.resolve(s"outputs/read-$name.json"), cols, rows)
    }
    val root = lastRoot.get
    val ingest = root.resolve("ingest").toString
    Seq("docs" -> Ingest.docsRoot(ingest), "orders" -> root.resolve("orders").toString,
        "rejects" -> Ingest.rejectsRoot(ingest), "filtered" -> Ingest.filteredRoot(ingest))
      .foreach { case (name, table) =>
        // rejects and filtered hold no data when every batch was clean
        val (cols, rows) =
          if (LakeTable.activeDirs(spark, table).isEmpty) (Seq.empty[String], Array.empty[Row])
          else { val df = LakeTable.read(spark, table); (df.columns.toSeq, df.collect()) }
        writeRows(out.resolve(s"outputs/$name.json"), cols, rows)
      }
    delete(root)
  }
}

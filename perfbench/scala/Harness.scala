package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One executed op. `latS` excludes the verification dump. */
final case class Sample(seq: Int, op: String, kind: String, phase: String, traced: Boolean,
                        latS: Double, fp: String, rows: Long, err: String, gcMs: Double,
                        tracked: Int, releaseMs: Double)

/**
 * The benchmark's JVM side: one client thread drives one workload through
 * graft's public calls on `local[cores]` and writes everything it measured
 * to `<out>/result.json` (spans to `<out>/spans.jsonl`). `run.py` makes the
 * inputs, starts this program, checks the results and prints the metrics.
 *
 * Phases: session start, input registration, warm-up (one cold execution
 * of every op, which is also the verified one: it dumps its rows for the
 * DuckDB check), then the timed phase in whole passes over the op pool
 * (whole ingest cycles for corpus_ingest) until `--seconds` have elapsed.
 * With `--trace 1` untraced and traced passes alternate, at least three,
 * so the tracing overhead is measured in the same run.
 */
object Harness {
  /** The corpus index members every cycle leaves in the same state. */
  private val ingested = Seq("mh/keys", "mh/sets", "ivf/packed", "ivf/cent")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traceMode = a("trace") == "1"
    val seed = a("seed").toLong
    val cores = a("cores")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer
    val collector = new Collector
    val runner = new Runner(spark, tracer)
    val t0 = System.nanoTime()
    val corpus = if (workload == "corpus_ingest") Some(new Workloads.Corpus(spark, data, out)) else None
    val (pool, texts) = workload match {
      case "door_mix" => Workloads.doorMix(spark, data)
      case "corpus_ingest" => (Seq.empty[Op], Seq.empty[DoorText])
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val registerS = (System.nanoTime() - t0) / 1e9

    // warm-up; the first execution of every op is the verified one
    val w0 = System.nanoTime()
    val verified = LinkedHashMap[String, String]()
    val cycleFps = ArrayBuffer[Map[String, Any]]()
    var excludedNs = 0L
    corpus match {
      case None =>
        for (op <- pool) {
          val s = runner.execute(op, "warmup", traced = false, dump = Some(s"$out/verify/${op.name}"))
          verified(op.name) = s.fp
        }
        excludedNs += runner.takeDumpNs()
      case Some(c) =>
        def verify(ops: Seq[Op]): Unit = ops.foreach { op =>
          val s = runner.execute(op, "warmup", traced = false, dump = Some(s"$out/verify/${op.name}"))
          verified(op.name) = s.fp
        }
        def untimed(f: => Unit): Unit = {
          val x0 = System.nanoTime()
          f
          excludedNs += System.nanoTime() - x0
        }
        verify(c.buildOps(0))
        untimed(c.snapshot(0))
        verify(c.shardOps(0))
        untimed(cycleFps += Map("cycle" -> 0, "fps" -> c.indexFingerprints(0, ingested).toMap))
        verify(c.finishOps(0))
        excludedNs += runner.takeDumpNs()
    }
    val warmupS = (System.nanoTime() - w0 - excludedNs) / 1e9

    // route census (traced runs, where sql.stock_route_frac needs it): the
    // door's own account of each text's route, taken after warm-up so it
    // adds no cold planning to the measured set-up
    val c0 = System.nanoTime()
    val census = (if (traceMode) texts else Nil).map { t =>
      val lines = graft.sql.CqcSql.explain(spark, t.sql).split("\n").toSeq
      graft.CacheRegistry.unpersistAll()
      val route = lines.find(l => l.startsWith("routing:") || l.contains("stock fallback")).getOrElse("")
      Map("name" -> t.name, "expected" -> t.route, "route_line" -> route,
        "cyclic" -> lines.exists(_.contains("cyclic body")))
    }
    val censusS = (System.nanoTime() - c0) / 1e9

    // timed phase: whole passes (whole cycles for corpus_ingest)
    val rnd = new scala.util.Random(seed)
    val layerRows = ArrayBuffer[Map[String, Any]]()
    val timed0 = System.nanoTime()
    var pass = 0
    // traced runs time untraced, traced, untraced passes, so the warm-up
    // still left in the first pass does not bias trace.overhead_frac
    val minPasses = if (traceMode) 3 else 1
    while (pass < minPasses || (System.nanoTime() - timed0) / 1e9 < seconds) {
      val traced = traceMode && pass % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(collector)
      val firstSpan = tracer.spans.size
      val ops = corpus match {
        case None => rnd.shuffle(pool)
        // a traced cycle runs whole, so the build and finish layers are traced too
        case Some(c) if traced => c.buildOps(pass + 1) ++ c.shardOps(pass + 1) ++ c.finishOps(pass + 1)
        case Some(c) =>
          c.restore(pass + 1)
          c.shardOps(pass + 1)
      }
      val passSamples = ops.map(runner.execute(_, "timed", traced, dump = None))
      corpus.foreach { c =>
        cycleFps += Map("cycle" -> (pass + 1), "fps" -> c.indexFingerprints(pass + 1, ingested).toMap)
        if (pass > 0) deleteTree(new java.io.File(c.dir(pass)))
      }
      if (traced) {
        org.apache.spark.GraftBenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector)
        val spans = tracer.spans.drop(firstSpan).toSeq
        val byOp = spans.groupBy(_.op)
        for (s <- passSamples; opSpans <- byOp.get(s.seq); root <- opSpans.find(_.parent == -1))
          layerRows += (Map[String, Any]("op" -> s.op, "kind" -> s.kind) ++
            Attribution.forOp(tracer, root, opSpans, collector, s.rows))
        collector.clear()
      }
      pass += 1
    }

    val result = LinkedHashMap[String, Any](
      "workload" -> workload,
      "cores" -> cores.toInt,
      "setup" -> Map("session_s" -> sessionS, "register_s" -> registerS,
        "warmup_s" -> warmupS, "census_s" -> censusS),
      "census" -> census,
      "verified" -> verified.toMap,
      "samples" -> runner.samples.map(s => Map(
        "seq" -> s.seq, "op" -> s.op, "kind" -> s.kind, "phase" -> s.phase,
        "traced" -> s.traced, "lat_s" -> s.latS, "fp" -> s.fp, "rows" -> s.rows,
        "err" -> s.err, "gc_ms" -> s.gcMs, "tracked" -> s.tracked,
        "release_ms" -> s.releaseMs)).toSeq,
      "layers" -> layerRows.toSeq,
      "cycle_fps" -> cycleFps.toSeq,
      "final_index" -> corpus.map(c => dirStats(c.dir(pass))).getOrElse(Map.empty),
      "oracle_sql" -> corpus.map(_.oracleSql().toMap).getOrElse(Map.empty),
      "passes" -> pass,
      "peak_rss_mb" -> peakRssMb())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.writeValue(new java.io.File(s"$out/result.json"), Json.toJava(result))
    if (tracer.spans.nonEmpty) {
      val w = new java.io.PrintWriter(s"$out/spans.jsonl")
      try tracer.spans.foreach { s =>
        w.println(mapper.writeValueAsString(Json.toJava(Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start_ms" -> tracer.epochMs(s.startNs),
          "end_ms" -> tracer.epochMs(s.endNs)))))
      } finally w.close()
    }
    spark.stop()
  }

  private def dirStats(dir: String): Map[String, Any] = {
    val files = Option(new java.io.File(dir)).toSeq.flatMap(walk)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    Map("index_bytes" -> files.map(_.length).sum, "index_files" -> files.size)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The JVM's resident-set high-water mark (Linux). */
  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case NonFatal(_) => 0.0 }
}

/** Executes ops: the graft call, a plan force (traced only), the consuming
  * fingerprint action and the cache release, each in its own span. */
final class Runner(spark: SparkSession, tracer: Tracer) {
  val samples = ArrayBuffer[Sample]()
  private var seq = 0
  private var dumpNs = 0L
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Time spent writing verification dumps since the last call. */
  def takeDumpNs(): Long = { val d = dumpNs; dumpNs = 0L; d }

  def execute(op: Op, phase: String, traced: Boolean, dump: Option[String]): Sample = {
    val mySeq = seq
    seq += 1
    tracer.on = traced
    var fp = "-"
    var rows = -1L
    var err: String = null
    var tracked = 0
    var releaseMs = 0.0
    var opDumpNs = 0L
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    tracer.op(mySeq, op.name) {
      try op.body(tracer).foreach { df0 =>
        val df = if (dump.isDefined) df0.persist() else df0
        if (traced) tracer.span("catalyst")(df.queryExecution.executedPlan)
        val (n, h) = tracer.span("exec")(Fingerprint.of(df))
        rows = n
        fp = s"$n:$h"
        dump.foreach { d =>
          val d0 = System.nanoTime()
          Dump.write(df, d)
          df.unpersist()
          opDumpNs = System.nanoTime() - d0
        }
      } catch {
        case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      tracked = graft.CacheRegistry.trackedCount
      val r0 = System.nanoTime()
      tracer.span("cache")(graft.CacheRegistry.unpersistAll())
      releaseMs = (System.nanoTime() - r0) / 1e6
    }
    val lat = (System.nanoTime() - t0 - opDumpNs) / 1e9
    tracer.on = false
    System.err.println(f"[graftbench] $phase%-6s ${op.name}%-22s $lat%8.3f s" +
      (if (err != null) s"  $err" else ""))
    dumpNs += opDumpNs
    val s = Sample(mySeq, op.name, op.kind, phase, traced, lat, fp, rows, err,
      (gcMs() - gc0).toDouble, tracked, releaseMs)
    samples += s
    s
  }
}

/** A verified result's rows for the DuckDB check: `rows.jsonl` (one JSON
  * object per row) and `schema.json` (column name to DuckDB type). The
  * rows come from the persisted frame the fingerprint just read, so the
  * dump costs one small collect rather than a second execution. */
object Dump {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def duckType(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case StringType => "VARCHAR"
      case IntegerType => "INTEGER"
      case ArrayType(e, _) => s"${duckType(e)}[]"
      case other => other.sql
    }
  }

  def write(df: DataFrame, dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val fields = df.schema.fields
    mapper.writeValue(new java.io.File(s"$dir/schema.json"),
      Json.toJava(scala.collection.immutable.ListMap(fields.toIndexedSeq.map(f => f.name -> duckType(f.dataType)): _*)))
    val w = new java.io.PrintWriter(s"$dir/rows.jsonl", "UTF-8")
    try df.collect().foreach { row =>
      val m = new java.util.LinkedHashMap[String, Any]()
      fields.indices.foreach(i => m.put(fields(i).name, Json.toJava(row.get(i))))
      w.println(mapper.writeValueAsString(m))
    } finally w.close()
  }
}

object Json {
  /** Scala values to the Java collections Jackson writes. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}

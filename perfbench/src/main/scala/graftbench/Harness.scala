package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{LocalLiveness, LocalScratch, SparkEntry}

/** JVM side of the benchmark: runs one workload's catalog queries in one
  * local-mode session, one after another (closed loop, one client).
  *
  *   1. set-up: session build, [[WarmPasses]] untimed warm-up passes over
  *      the workload's queries on `--warm-data` (JIT, codegen and the
  *      parquet read path leave the timed window);
  *   2. timed passes, repeated until `--seconds` have elapsed (at least
  *      [[MinPasses]]): each query's timed action is `fn(spark, dir)`
  *      followed by a full parquet write of its result;
  *   3. with `--trace 1`, one more pass with a [[Tracer]] attached, then
  *      one untraced again, and the dedup LSH probe.
  *
  * Between queries, outside the timed window, every persisted frame is
  * dropped (as graft.Bench does) so one query's leftovers never tax the
  * next. Results go to `--result` as one JSON object; oracle checking is
  * done by the caller on the written parquet.
  *
  * Usage: Harness --data DIR --warm-data DIR --out DIR --queries q1,q2
  *                --seconds N --trace 0|1 --cpus N --result FILE
  *        Harness --oracles FILE        (dump SparkEntry.oracleSql) */
object Harness {
  private def epochUs(): Long = Tracer.epochUs()

  /** Timed passes per untraced run at the least, whatever `--seconds`
    * says, so the caller's per-run figures are medians rather than single
    * samples. A traced run reports only the traced pass, so it keeps to one
    * and stays within the caller's time limit. */
  val MinPasses = 3

  /** Untimed warm-up passes. After one, q_graph_bracha's next passes still
    * speed up by a fifth each as the JIT settles, and how far it has got
    * differs from run to run; a second pass leaves the timed ones flatter. */
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("oracles") match {
      case Some(path) => dumpOracles(path)
      case None => run(opt)
    }
  }

  private def dumpOracles(path: String): Unit = {
    val body = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }

  final case class QueryRun(query: String, pass: Int, traced: Boolean, ok: Boolean,
                            error: String, callUs: (Long, Long), sinkUs: (Long, Long))

  private def run(opt: Map[String, String]): Unit = {
    val data = opt("data")
    val warmData = opt("warm-data")
    val out = opt("out")
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val catalog = SparkEntry.queries
    names.foreach(n => require(catalog.contains(n), s"unknown query $n"))

    val spark = LocalScratch.fast(LocalLiveness.widen(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUs = epochUs()

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

    // Hygiene between queries, never inside a timed window: drop the
    // catalog cache and every persisted RDD (localCheckpoint blocks are
    // plain persistent RDDs) and wait for the removal, then nudge the
    // ContextCleaner with a GC.
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }

    def runQuery(name: String, dir: String, dest: String, pass: Int,
                 tracer: Option[Tracer]): QueryRun = {
      spark.sparkContext.setJobGroup(s"$pass:$name", name)
      tracer.foreach(_.queryStart())
      var call = (0L, 0L)
      var sink = (0L, 0L)
      var err = ""
      val c0 = epochUs()
      try {
        val df: DataFrame = catalog(name)(spark, dir)
        val c1 = epochUs()
        call = (c0, c1)
        df.write.mode("overwrite").parquet(dest)
        sink = (c1, epochUs())
      } catch {
        case e: Throwable =>
          val t = epochUs()
          if (call._2 == 0L) call = (c0, t)
          sink = (call._2, t)
          err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          System.err.println(s"[harness] $name failed: $err")
      }
      spark.sparkContext.clearJobGroup()
      val r = QueryRun(name, pass, tracer.isDefined, err.isEmpty, err, call, sink)
      tracer.foreach(_.queryEnd(r))
      hygiene()
      r
    }

    // ---- set-up: warm-up passes (untimed) ----
    for (_ <- 1 to WarmPasses) names.foreach(n => runQuery(n, warmData, s"$out/warm/$n", -1, None))
    val warmedUs = epochUs()
    val setupJitMs = jitMs()

    // ---- timed passes ----
    val runs = scala.collection.mutable.ArrayBuffer.empty[QueryRun]
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Long, Long, Double)]
    var firstTimedUs = 0L
    def passes(from: Int, tracer: Option[Tracer], budgetS: Double, minPasses: Int): Int = {
      val t0 = System.nanoTime()
      var p = from
      while (p - from < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS) {
        resetHwm()
        val ps = epochUs()
        if (firstTimedUs == 0L) firstTimedUs = ps
        names.foreach(n => runs += runQuery(n, data, s"$out/p$p/$n", p, tracer))
        val pe = epochUs()
        passWalls += ((p, tracer.isDefined, ps, pe, vmHwmMb()))
        p += 1
      }
      p - from
    }
    val nPlain = passes(0, None, seconds, if (trace) 1 else MinPasses)

    val traced: Option[(Tracer, Int)] = if (!trace) None else {
      val tr = new Tracer(spark)
      tr.attach()
      val g0 = gcMs()
      // one traced pass, then one untraced again: passes keep speeding up
      // as the JIT settles, so the overhead ratio compares the traced pass
      // with the untraced passes on both sides of it
      val n = passes(nPlain, Some(tr), 0.0, 1)
      tr.gcMs = gcMs() - g0
      tr.detach()
      passes(nPlain + n, None, 0.0, 1)
      Some((tr, n))
    }
    val dedupProbe = if (trace) Some(DedupProbe(spark, data)) else None
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""cpus": $cpus, "scratch": ${Json.str(LocalScratch.resolved)}, """
    sb ++= s""""max_heap_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """
    sb ++= s""""session_us": $sessionUs, "warmed_us": $warmedUs, "first_timed_us": $firstTimedUs, """
    sb ++= s""""heap_peak_mb": $heapPeakMb, """
    sb ++= s""""setup_jit_ms": $setupJitMs, """
    sb ++= "\"passes\": " + passWalls.map { case (p, t, s, e, rss) =>
      s"""{"pass": $p, "traced": $t, "start_us": $s, "end_us": $e, "peak_rss_mb": $rss}"""
    }.mkString("[", ", ", "]") + ", "
    sb ++= "\"runs\": " + runs.map { r =>
      s"""{"query": ${Json.str(r.query)}, "pass": ${r.pass}, "traced": ${r.traced}, "ok": ${r.ok}, """ +
        s""""error": ${Json.str(r.error)}, "call_us": [${r.callUs._1}, ${r.callUs._2}], """ +
        s""""sink_us": [${r.sinkUs._1}, ${r.sinkUs._2}], "path": ${Json.str(s"p${r.pass}/${r.query}")}}"""
    }.mkString("[", ", ", "]")
    traced.foreach { case (tr, n) => sb ++= ", \"trace\": " + tr.toJson(n) }
    dedupProbe.foreach(d => sb ++= ", \"dedup\": " + d)
    sb ++= "}\n"
    Files.write(Paths.get(opt("result")), sb.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Restart the kernel's peak-RSS count (VmHWM) at the current RSS, so each
    * pass reports its own peak rather than set-up's. Where the kernel does
    * not allow it the count simply runs on from process start. */
  private def resetHwm(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII))
    catch { case _: java.io.IOException | _: SecurityException => () }

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}

/** The dedup layer's useful-work ratio: LSH candidates from the public
  * `Dedup.withMinhash` + `Dedup.lshCandidates` with q_dedup_minhash's
  * parameters (8-shingles, 16 hashes, 4 bands of 4), and how many of them
  * pass the exact Jaccard ≥ 0.3 check. Computed after the timed passes. */
object DedupProbe {
  def apply(spark: SparkSession, dir: String): String = {
    import graft.dedup.Dedup
    val docs = graft.Tables(spark, dir).documents
    val sigs = Dedup.withMinhash(docs, 8, 16).persist()
    val cands = Dedup.lshCandidates(sigs, 4, 4).persist()
    val sh = sigs.select(col("doc_id"), col("sh"))
    val nCand = cands.count()
    val nVerified = cands
      .join(sh.select(col("doc_id").as("ida"), col("sh").as("sha")), Seq("ida"))
      .join(sh.select(col("doc_id").as("idb"), col("sh").as("shb")), Seq("idb"))
      .filter(graft.text.TextFunctions.jaccard(col("sha"), col("shb")) >= 0.3)
      .count()
    cands.unpersist(true); sigs.unpersist(true)
    s"""{"candidates": $nCand, "verified": $nVerified}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.extract.{ExtractorOptions, TrafConfig}
import graft.spark.{DocRow, DocsTables, ExtractPipeline}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: builds one workload's inputs from a seed, times
  * calls into the engine's public entry points, checks their outputs and
  * writes every raw measurement to a JSON file. `run.py` launches it, reduces
  * the raw values to metrics and prints the result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <file> */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String)

  private def parse(a: Array[String]): Args = {
    def need(k: String): String = {
      val i = a.indexOf(k)
      if (i >= 0 && i + 1 < a.length) a(i + 1) else throw new IllegalArgumentException(s"missing $k")
    }
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--out"))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, every thread included (tasks, driver,
    * JIT, GC). Unlike the wall clock it leaves out the time other tenants of
    * a shared host take from this one. */
  def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of each live Java thread, by thread id (ids are never
    * reused). Java threads are the driver, Spark's task and service threads
    * and any the engine starts; the JIT compiler, GC and other VM threads
    * are not among them. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.iterator.zip(threads.getThreadCpuTime(ids).iterator).filter(_._2 > 0).toMap
  }

  /** CPU seconds the Java threads have used since `t0`. A thread that ended
    * in between takes its share with it. */
  def threadCpuSince(t0: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - t0.getOrElse(id, 0L) }.sum / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // one process on every core of the host, never oversubscribed
    val nproc = Runtime.getRuntime.availableProcessors
    new File(a.work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a usable session: class loading, JIT and context start-up
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sessionCpuS = cpuS()
    val run = new Run(spark, a)
    val body =
      try a.workload match {
        case "extract-commit" => run.extractCommit()
        case "analytics" => run.analytics()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    val rt = ManagementFactory.getRuntimeMXBean
    val host = Json.Obj(
      "nproc" -> nproc,
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version)
    val json = Json.Obj("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced" -> a.trace, "host" -> host, "session_s" -> sessionS,
      "session_cpu_s" -> sessionCpuS) ++ body
    Files.writeString(Paths.get(a.out), Json.write(json))
  }
}

/** One benchmark run: the two workloads share the set-up, window and
  * tracing scaffolding below. */
final class Run(spark: SparkSession, a: Main.Args) {
  import spark.implicits._

  private val sc = spark.sparkContext
  private val stats = new StageStats

  /** SparkEntry's options for the oracle-checked extraction queries. */
  private val fastOpts = ExtractorOptions(config = TrafConfig.Zero, fast = true, images = true)
  /** graft.Main's `standard` mode: full cascade with fallback arbitration. */
  private val standardOpts = ExtractorOptions(images = true)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds, JVM CPU seconds and Java-thread CPU seconds of one
    * measured step. */
  final case class T(wall: Double, cpu: Double, threadCpu: Double) {
    def +(o: T): T = T(wall + o.wall, cpu + o.cpu, threadCpu + o.threadCpu)
  }

  private def timed(body: => Unit): T = {
    val c0 = Main.cpuS()
    val h0 = Main.threadCpu()
    val t0 = System.nanoTime()
    body
    T(secs(t0), Main.cpuS() - c0, Main.threadCpuSince(h0))
  }

  private val heapSamples = Seq.newBuilder[Double]

  /** Records the heap still reachable after a full collection: persisted
    * caches, broadcast blocks and anything else the workload keeps alive at
    * this checkpoint. Called between measured steps only, never inside one. */
  private def sampleLiveHeap(): Unit = {
    System.gc()
    heapSamples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Set-up is repeated `reps` times so run.py can report its median. */
  private def setupReps(reps: Int)(build: Int => Unit): Json.Obj = {
    val ts = (0 until reps).map(r => timed(build(r)))
    Json.Obj("setup_reps_s" -> ts.map(_.wall), "setup_reps_cpu_s" -> ts.map(_.cpu))
  }

  /** One measured window of `seconds`: `pass` runs back to back and
    * returns the seconds it measured (untimed checks inside it excluded).
    * Traced runs alternate untraced and traced passes (the listener is
    * attached only for the latter) so the same run yields both the per-layer
    * numbers and the tracing overhead; traced jobs are tagged
    * `pass-<part>-<i>`. */
  private def window(part: String, seconds: Double, minPlain: Int = 1)(
      pass: Int => T): (Seq[T], Seq[T]) = {
    val plain = Seq.newBuilder[T]
    val traced = Seq.newBuilder[T]
    var nPlain, nTraced = 0
    val t0 = System.nanoTime()
    var i = 0
    while (secs(t0) < seconds || nPlain < minPlain || (a.trace && nTraced == 0)) {
      if (a.trace && i % 2 == 1) { traced += tracedStep(s"pass-$part-$i")(pass(i)); nTraced += 1 }
      else { plain += pass(i); nPlain += 1 }
      i += 1
    }
    (plain.result(), traced.result())
  }

  /** A measured part of the pass: its untraced times (`pass_s` sums their
    * medians), traced times with their Spark stages, and the untraced times
    * the tracing overhead is taken against. */
  private def part(name: String, plain: Seq[T], traced: Seq[T], overheadRef: Seq[T]): Json.Obj = {
    val base = Json.Obj("name" -> name, "plain_s" -> plain.map(_.wall),
      "plain_cpu_s" -> plain.map(_.cpu), "plain_thread_cpu_s" -> plain.map(_.threadCpu))
    if (!a.trace) base
    else base ++ Json.Obj("traced_s" -> traced.map(_.wall), "overhead_ref_s" -> overheadRef.map(_.wall),
      "stages" -> stats.merged(sc, s"pass-$name-").toJson)
  }

  /** Run `body` with the listener attached, its jobs tagged `name`. */
  private def tracedStep[R](name: String)(body: => R): R = {
    sc.addSparkListener(stats)
    try StageStats.step(sc, name)(body)
    finally { org.apache.spark.ListenerDrain.drain(sc); sc.removeSparkListener(stats) }
  }

  /** Kernel-phase sweeps over a sample of the workload's pages, plus a
    * tenth as many table-layout pages so that both outcomes of the fallback
    * arbitration are timed: one verifying warm-up sweep, then timed sweeps
    * for about two seconds. */
  private def kernelPhases(sample: Seq[String]): Json.Obj = {
    val pages = sample ++ Gen.tableLayoutPages(sample.length / 10, a.seed)
    val check = KernelTrace.sweep(pages, standardOpts, verify = true)
    val sweeps = Seq.newBuilder[KernelTrace.Sweep]
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || (secs(t0) < 2.0 && n < 50)) {
      sweeps += KernelTrace.sweep(pages, standardOpts, verify = false); n += 1
    }
    KernelTrace.toJson(sweeps.result()) ++ Json.Obj(
      "chain_mismatches" -> check.mismatches, "chain_docs" -> check.docs)
  }

  /** A seeded sample of `n` html payloads of `ds` (bounded payload size). */
  private def samplePages(ds: Dataset[DocRow], n: Int, maxBytes: Int = 1 << 20): Seq[String] =
    ds.map(r => ExtractPipeline.htmlPayload(r.spans))
      .filter(h => h != null && h.length <= maxBytes)
      .orderBy(xxhash64(lit(a.seed), col("value")))
      .limit(n).collect().toSeq

  /** The `kernel_us` column of one traced extraction, with its stage. */
  private def rowKernel(out: Dataset[_]): Json.Obj = {
    val us = tracedStep("kernel-us")(out.toDF().select(col("kernel_us")).as[Long].collect().toSeq)
    Json.Obj("kernel_us" -> us, "stage" -> stats.merged(sc, "kernel-us").toJson)
  }

  private def heavyDocs(ds: Dataset[DocRow], thresholdBytes: Int): Long =
    ds.filter(r => r.spans.iterator.map(s => if (s.text == null) 0L else s.text.length.toLong).sum >
      thresholdBytes).count()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def manifests(dir: String): Seq[File] =
    Option(new File(s"$dir/_commits").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("bucket-") && f.getName.endsWith(".json"))

  private def manifestField(f: File, key: String): Long = {
    val m = s""""$key":(\\d+)""".r.findFirstMatchIn(Files.readString(f.toPath))
    m.map(_.group(1).toLong).getOrElse(-1L)
  }

  // ---------------------------------------------------------- extract-commit

  /** The extraction kernel twice over: as a pure map stage (fast options,
    * `noop` sink) and as graft.Main's bucketed commit log (standard options,
    * skew router, mega-documents, a crash-and-resume). */
  def extractCommit(): Json.Obj = {
    val data = s"${a.work}/data"
    val baseDocs = 1250
    val pageFactor = 4 // extraction pages: baseDocs x 4
    val commitFactor = 1 // commit-log docs: baseDocs, plus the mega-document
    val buckets = 2
    val megaDocs = 1
    // graft.Main's default router threshold is 1 MiB; a 128 KiB threshold
    // drives the same skew path with a mega-document cheap enough to fit
    // several rounds in one run
    val skewBytes = 128 << 10
    var pages: Dataset[DocRow] = null
    var input: Dataset[DocRow] = null
    var sections = 0
    val setup = setupReps(3) { _ =>
      // unpersist the previous instance first: CacheManager matches plans
      if (pages != null) pages.unpersist(true)
      if (input != null) input.unpersist(true)
      Gen.writeDocuments(spark, data, baseDocs, a.seed)
      pages = DocsTables.docsTableScaled(spark, data, pageFactor).persist()
      pages.count()
      // enough sections that even the shortest mega-document source text
      // crosses the skew threshold (docsTableSkewed takes the first rows)
      val minLen = spark.read.parquet(s"$data/documents.parquet").limit(megaDocs)
        .agg(min(length(col("text")))).collect()(0).getInt(0)
      sections = (skewBytes * 1.1 / (minLen + 16)).toInt + 1
      input = DocsTables.docsTableSkewed(spark, data, commitFactor, megaDocs, sections).persist()
      input.count()
    }
    val nPages = baseDocs.toLong * pageFactor
    val nDocs = baseDocs.toLong * commitFactor + megaDocs

    /** Deletes the manifests of a seeded quarter of the buckets, as a crash
      * would lose them, so the next run resumes those buckets. */
    def crash(dir: String, round: Int): Unit =
      new scala.util.Random(a.seed * 1000003L + round).shuffle((0 until buckets).toList)
        .take(math.max(1, buckets / 4))
        .foreach(b => new File(s"$dir/_commits/bucket-$b.json").delete())
    def commit(dir: String): Unit =
      ExtractPipeline.runWithCommitLog(spark, input, dir, standardOpts, buckets, skewBytes)
    def extractPass(): Unit =
      ExtractPipeline.extractDocs(pages, fastOpts).write.format("noop").mode("overwrite").save()

    // untimed warm-up pass that doubles as the kernel check: every page is
    // ok and its first `p` span is the source document's text
    var extractBad = 0L
    val warmKernel = timed {
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val checked = ExtractPipeline.extractDocs(pages, fastOpts)
        .select(col("doc_id").cast("long").as("pid"), col("ok"),
          element_at(filter(col("spans"), x => x.getField("kind") === "p"), 1).getField("text").as("p"))
        .join(docs, floor(col("pid") / pageFactor) === col("doc_id"), "left")
        .agg(count(lit(1)), sum(when(col("ok") && col("p") === col("text"), 0).otherwise(1)),
          countDistinct(col("pid")))
        .collect()(0)
      val extractRows = checked.getLong(0)
      extractBad = checked.getLong(1) + math.abs(nPages - extractRows) + (extractRows - checked.getLong(2))
    }

    /** The commit-log checks of the warm-up round: every input doc
      * committed exactly once and ok, manifests counting the output rows,
      * and the resume reproducing the fresh run's (doc_id, ok, text) set. */
    final class CommitCheck(dir: String) {
      private def committed() =
        spark.read.parquet(s"$dir/bucket-*").select(col("doc_id"), col("ok"), col("text"))
      private val fresh = committed().persist()
      // one job: per input doc, how often it was committed and whether ok
      private val perDoc = fresh.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), min(col("ok").cast("int")).as("ok"))
        .join(input.select(col("doc_id"), lit(1).as("in")), Seq("doc_id"), "full_outer")
        .agg(sum(coalesce(col("n"), lit(0L))), count(when(col("n").isNull, 1)),
          count(when(col("in").isNull, 1)), sum(when(col("n") > 1, col("n") - 1).otherwise(0L)),
          count(when(col("ok") === 0, 1)))
        .collect()(0)
      val Seq(rows, lost, extra, dupes, notOk) = (0 until 5).map(perDoc.getLong)
      val manifestDocs = manifests(dir).map(manifestField(_, "docs")).sum
      var resumeDiff = 0L
      /** After the resume: rows whose multiplicity differs (one job). */
      def afterResume(): Unit = {
        resumeDiff = fresh.withColumn("d", lit(1L))
          .unionByName(committed().withColumn("d", lit(-1L)))
          .groupBy(col("doc_id"), col("ok"), col("text")).agg(sum(col("d")).as("d"))
          .agg(coalesce(sum(abs(col("d"))), lit(0L))).collect()(0).getLong(0)
        fresh.unpersist(true)
      }
      def bad: Long = notOk + lost + extra + dupes + resumeDiff + math.abs(manifestDocs - rows)
      def toJson: Json.Obj = Json.Obj("not_ok" -> notOk, "lost" -> lost, "extra" -> extra,
        "duplicated" -> dupes, "resume_diff" -> resumeDiff, "manifest_docs" -> manifestDocs,
        "rows" -> rows)
    }

    // untimed warm-up round (fresh run, crash, resume) that doubles as the
    // commit-log check. The measured rounds after it are warm, as the kernel
    // passes are: a cold round's CPU time, JIT compilation included, spread
    // too widely between runs to be bounded
    val warmDir = s"${a.work}/commit-warm"
    var check: CommitCheck = null
    val warmCommit = timed {
      commit(warmDir)
      check = new CommitCheck(warmDir)
      crash(warmDir, -1)
      commit(warmDir)
    }
    sampleLiveHeap() // the check's fresh table is still cached here
    val warm = warmKernel + warmCommit + timed(check.afterResume())
    deleteTree(new File(warmDir))

    // half the window for kernel passes (at least four), half for
    // commit-log rounds (at least one), so both get repeated samples
    val (kPlain, kTraced) = window("kernel", a.seconds / 2, minPlain = 4)(_ => timed(extractPass()))
    sampleLiveHeap()
    val freshS, resumeS = Seq.newBuilder[Double]
    var roundBad = 0L
    var lastDir: String = null
    var lastTag: String = null
    val (cPlain, cTraced) = window("commit", a.seconds / 2) { i =>
      val tag = Option(sc.getLocalProperty(StageStats.StepKey))
      def step(name: String)(body: => Unit): T =
        timed(tag.fold(body)(t => StageStats.step(sc, s"$t-$name")(body)))
      val dir = s"${a.work}/commit-$i"
      val fresh = step("fresh")(commit(dir))
      crash(dir, i)
      val resume = step("resume")(commit(dir))
      freshS += fresh.wall; resumeS += resume.wall
      // every round must commit every document, resume included
      roundBad += math.abs(manifests(dir).map(manifestField(_, "docs")).sum - nDocs)
      if (lastDir != null) deleteTree(new File(lastDir))
      lastDir = dir
      tag.foreach(lastTag = _)
      fresh + resume
    }
    sampleLiveHeap()
    val base = setup ++ Json.Obj("warm_s" -> warm.wall, "warm_cpu_s" -> warm.cpu,
      // tracing overhead from the kernel passes only: a traced run has one
      // untraced and one traced commit-log round, the later one warmer, so
      // the untraced one is no reference for the traced one
      "parts" -> Seq(part("kernel", kPlain, kTraced, kPlain), part("commit", cPlain, cTraced, Nil)),
      "kernel_s" -> kPlain.map(_.wall), "kernel_cpu_s" -> kPlain.map(_.threadCpu),
      "live_heap_mb" -> heapSamples.result(),
      "attempted" -> (nPages + nDocs), "failed" -> (extractBad + check.bad + roundBad),
      "detail" -> Json.Obj("pages" -> nPages, "docs" -> nDocs, "buckets" -> buckets,
        "mega_docs" -> megaDocs, "mega_sections" -> sections,
        "extract_s" -> kPlain.map(_.wall), "fresh_s" -> freshS.result(), "resume_s" -> resumeS.result(),
        "check" -> (check.toJson ++ Json.Obj("extract_bad" -> extractBad, "round_bad" -> roundBad))))
    val result =
      if (!a.trace) base
      else {
        // commit-log layer, read from the last round's directory
        val dir = lastDir
        val written = scala.util.Using.resource(Files.walk(Paths.get(dir)))(
          _.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]))
        val outBytes = written.filter(p => p.toString.contains("/bucket-") &&
          p.toString.endsWith(".parquet")).map(Files.size).sum
        val freshStats = stats.merged(sc, s"$lastTag-fresh")
        val markerMs = Files.getLastModifiedTime(Paths.get(s"$dir/_commits/_buckets")).toMillis
        val stageMs = freshStats.jobStartMs.filter(_ <= markerMs)
        base ++ Json.Obj("trace" -> Json.Obj(
          "commit" -> Json.Obj(
            "stage_s" -> (if (stageMs.isEmpty) 0.0 else (markerMs - stageMs.min) / 1000.0),
            "bucket_wall_ms" -> manifests(dir).map(manifestField(_, "wall_ms")),
            "jobs_per_bucket" -> freshStats.jobStartMs.count(_ > markerMs).toDouble / buckets,
            "files_written" -> written.length, "bytes_per_doc" -> outBytes.toDouble / nDocs,
            "fresh_stage" -> freshStats.toJson,
            "resume_stage" -> stats.merged(sc, s"$lastTag-resume").toJson,
            "heavy_docs" -> heavyDocs(input, skewBytes)),
          "row" -> rowKernel(ExtractPipeline.extractDocs(pages, fastOpts)),
          "kernel" -> kernelPhases(samplePages(input, 300, skewBytes))))
      }
    deleteTree(new File(lastDir))
    result
  }

  // --------------------------------------------------------------- analytics

  /** SparkEntry queries that cover every analytics layer once: the kernel
    * through Spark, TextOps' higher-order-function path, the dedup family
    * with its native expressions and connected components, the vector
    * expressions, MultimodalOps, StreamOps and an AQE skew join. The other
    * eleven queries reuse these layers and would double a run's length. */
  val Queries: Seq[String] = Seq("extract_text", "lang_id", "quality_score", "token_count",
    "dedup_exact", "dedup_ngram", "dedup_clusters", "ann_cosine", "emb_lsh_recall",
    "media_features", "events_sessions", "tpch_skew_revenue")

  /** The `Queries`, run once in a fixed order in the fresh session, as a
    * batch job would (planning, code generation and JIT included), each
    * written out as parquet so every output column is computed and can be
    * checked; then kernel passes over the workload's pages. */
  def analytics(): Json.Obj = {
    val dir = s"${a.work}/tables"
    val outputs = s"${a.work}/out"
    // the DuckDB near-dup oracles are quadratic in documents (a 500-doc
    // check takes minutes), which bounds the document table
    val sizes = Gen.Sizes(docs = 48, embeddings = 300, events = 2000, users = 40,
      orders = 2000, customers = 200, lineitems = 8000)
    val setup = setupReps(3)(_ => Gen.writeAll(spark, dir, sizes, a.seed))
    val names = Queries
    val queries = SparkEntry.queries
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    Files.createDirectories(Paths.get(outputs))
    Files.writeString(Paths.get(s"$outputs/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))

    sampleLiveHeap()
    val plainQ = names.map(_ -> Seq.newBuilder[T]).toMap
    val tracedQ = names.map(_ -> Seq.newBuilder[T]).toMap
    // one pass; a traced run adds a traced warm pass after it
    val (plain, traced) = window("queries", 0) { i =>
      // inside a traced pass each query's jobs get their own step name
      val pass = Option(sc.getLocalProperty(StageStats.StepKey))
      names.map { q =>
        def go(): Unit =
          try queries(q)(spark, dir).write.mode("overwrite").parquet(s"$outputs/$q")
          catch {
            case scala.util.control.NonFatal(e) =>
              errors.getOrElseUpdate(q, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        val s = timed(pass.fold(go())(p => StageStats.step(sc, s"$p|$q")(go())))
        (if (pass.isDefined) tracedQ else plainQ)(q) += s
        s
      }.reduce(_ + _)
    }
    sampleLiveHeap()
    // kernel passes over the workload's own pages (the extract_* input,
    // x40), as on extract-commit
    val pages = DocsTables.docsTableScaled(spark, dir, 40).persist()
    pages.count()
    val (kPlain, kTraced) = window("kernel", a.seconds / 2, minPlain = 4) { _ =>
      timed(ExtractPipeline.extractDocs(pages, fastOpts).write.format("noop").mode("overwrite").save())
    }
    sampleLiveHeap()
    val firstPass = names.map(q => q -> plainQ(q).result().head).toMap
    val base = setup ++ Json.Obj("warm_s" -> 0.0, "warm_cpu_s" -> 0.0,
      // tracing overhead from the kernel passes only: the untraced query
      // pass is cold, so it is no reference for the traced (warm) one
      "parts" -> Seq(part("queries", plain, traced, Nil), part("kernel", kPlain, kTraced, kPlain)),
      "kernel_s" -> kPlain.map(_.wall), "kernel_cpu_s" -> kPlain.map(_.threadCpu),
      "live_heap_mb" -> heapSamples.result(),
      "attempted" -> names.length.toLong, "failed" -> errors.size.toLong,
      "errors" -> errors, "check_tables" -> dir, "check_outputs" -> outputs,
      "detail" -> Json.Obj("queries" -> names.map(q => q -> Seq(firstPass(q).wall)).toMap,
        "pages" -> 40L * sizes.docs, "extract_s" -> kPlain.map(_.wall), "sizes" -> sizes.toString))
    if (!a.trace) base
    else {
      val perQuery = names.map { q =>
        q -> (stats.matching(sc, _.endsWith(s"|$q")).toJson ++
          Json.Obj("traced_s" -> tracedQ(q).result().map(_.wall)))
      }.toMap
      base ++ Json.Obj("trace" -> Json.Obj(
        "queries" -> perQuery,
        "row" -> rowKernel(ExtractPipeline.extractDocs(pages, fastOpts)),
        "kernel" -> kernelPhases(samplePages(pages, 300))))
    }
  }
}

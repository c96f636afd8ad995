package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{BaselineWorkload, VectorKernel}
import graft.operators.{Ann, Knn, Similarity, TextOps}

/** One timed call into an engine module. `items` is the work the call
  * completes when it succeeds (query vectors answered, corpus vectors
  * indexed, documents processed). Failed calls keep their
  * time-to-throw; the summariser counts them as misses. */
final case class OpRec(layer: String, fn: String, arg: String, phase: String, iter: Int,
                       startUs: Long, durS: Double, ok: Boolean,
                       err: String, items: Double, rows: Long, hash: String, spanId: Long)

final case class Check(name: String, ok: Boolean, detail: String)

/** Benchmark process: sets up one workload from its seed, runs it as
  * a closed loop with one client for the requested seconds, checks
  * every output outside the timed spans and writes the raw record
  * (calls, set-up phases, checks, spans) as JSON for `run.py`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --out FILE --work DIR [key=value ...]
  *        perfbench.Main --selftest
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    if (args.contains("--selftest")) sys.exit(if (SelfTest.run()) 0 else 1)
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val params = args.filter(a => !a.startsWith("--") && a.contains("="))
      .map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cfg = Config(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("work"), params)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bench = new Bench(spark, cfg)
    try bench.run()
    catch { case NonFatal(e) => bench.workloadFailed(e) }
    // stopping the context drains the listener bus, so every job,
    // stage and task event has reached the tracer before it is written
    spark.stop()
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.writeString(Paths.get(opts("out")), json.writeValueAsString(bench.record(nproc)))
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble
}

final class Bench(spark: SparkSession, cfg: Config) {
  private val sc = spark.sparkContext
  private val tracer = new Tracer
  private val listener = new OpListener(tracer)
  if (cfg.trace) sc.addSparkListener(listener)

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
  val checks = mutable.ArrayBuffer.empty[Check]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  private var failure: Option[String] = None

  def workloadFailed(e: Throwable): Unit = {
    failure = Some(errHead(e))
    checks += Check("workload_completed", ok = false, errHead(e))
  }
  private def errHead(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}"

  // ------------------------------------------------------------ calls

  /** Times `body` (the engine call plus the action that materialises
    * its result) as one span; hashing and freeing happen afterwards,
    * outside it. */
  def call(layer: String, fn: String, phase: String, iter: Int, items: Double,
           arg: String = "")(body: => Array[Row]): (OpRec, Option[Array[Row]]) = {
    val spanId = tracer.newId()
    if (cfg.trace) sc.setJobGroup(Tracer.group(spanId), s"$layer.$fn", interruptOnCancel = false)
    val startUs = System.currentTimeMillis() * 1000L
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val dur = (System.nanoTime() - t0) / 1e9
    if (cfg.trace) {
      sc.clearJobGroup()
      tracer.add(Span(spanId, 0L, spanId, s"$layer.$fn", "op", startUs,
        startUs + (dur * 1e6).toLong, Map("ok" -> (if (res.isRight) 1.0 else 0.0))))
    }
    val rec = res match {
      case Right(rows) =>
        OpRec(layer, fn, arg, phase, iter, startUs, dur, ok = true, "",
          items, rows.length.toLong, Checks.hash(rows), spanId)
      case Left(e) =>
        System.err.println(s"[perfbench] $layer.$fn failed: ${errHead(e)}")
        OpRec(layer, fn, arg, phase, iter, startUs, dur, ok = false, errHead(e),
          items, 0L, "", spanId)
    }
    ops += rec
    System.err.println(f"[perfbench] $phase%-6s $iter%3d $layer.$fn%-32s ${dur}%8.3f s ${if (rec.ok) "ok" else "FAILED"}")
    freeState()
    (rec, res.toOption)
  }

  /** Frees what a call leaves behind — cached plans, persisted RDDs
    * (blocking) and stale broadcasts and shuffle files, via a GC —
    * between calls, never inside a timed span. */
  private def freeState(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Check(name, ok, if (ok) "" else detail)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def dataDir(tag: String): String = {
    val d = s"${cfg.work}/data/$tag"
    new File(d).mkdirs()
    d
  }

  /** Runs `step` as a closed loop, one client, until `seconds` have
    * elapsed, and at least once. */
  private def loop(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      step(i)
      i += 1
    }
  }

  def run(): Unit = cfg.workload match {
    case "vector_serve" => vectorServe()
    case "index_build" => indexBuild()
    case "llm_pipeline" => llmPipeline()
    case "zvdb_baseline" => zvdbBaseline()
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ----------------------------------------------------- vector_serve

  private def vectorServe(): Unit = {
    val (n, dim, clusters, nq, k) =
      (cfg.int("n"), cfg.int("dim"), cfg.int("clusters"), cfg.int("nq"), cfg.int("k"))
    val rnd = new java.util.SplittableRandom(cfg.seed)
    val vecs = Gen.clustered(cfg.seed, n, dim, clusters)
    val exact = new Checks.Exact(vecs)
    val truthBatch = (0 until nq).map(q => exact.topK(q.toLong, k))
    val truthFiltered = (0 until nq).map(q => exact.topK(q.toLong, k, _ % 2 == 0))
    var dir = ""
    var fullIndex: Array[Row] = Array.empty

    def exactBatch(rows: Array[Row], q: Long): Unit =
      check("knn_batch equals brute force", (0 until nq).forall { q =>
        Checks.sameTopK(rows.filter(_.getAs[Long]("query_id") == q)
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))), q, truthBatch(q), exact)
      }, "batch top-k differs")
    def recallCheck(fn: String, truth: Int => Seq[Long])(rows: Array[Row], q: Long): Unit = {
      val r = Checks.recall(rows, truth)
      val floor = cfg.dbl(s"floor.$fn")
      extra(s"recall.$fn") = r
      check(s"$fn recall@$k >= $floor", r >= floor, f"recall $r%.3f")
    }
    // (layer, fn, query vectors answered, call, check)
    val reads: Seq[(String, String, Double, Long => Array[Row], (Array[Row], Long) => Unit)] = Seq(
      ("knn", "knn_topk", 1.0, q => Knn.knnTopK(spark, dir, q, k).collect(),
        (rows, q) => check(s"knn_topk qid=$q equals brute force",
          Checks.sameTopK(rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))),
            q, exact.topK(q, k), exact), "top-k differs")),
      ("knn", "knn_batch", nq.toDouble, _ => Knn.knnBatch(spark, dir, nq, k).collect(), exactBatch),
      ("ann", "hnsw_search", nq.toDouble, _ => Ann.hnswSearch(spark, dir, nq, k).collect(),
        recallCheck("hnsw_search", truthBatch)),
      ("ann", "hnsw_search_filtered", nq.toDouble,
        _ => Ann.hnswSearchFiltered(spark, dir, nq, k).collect(),
        recallCheck("hnsw_search_filtered", truthFiltered)),
      ("ann", "ann_sq8", nq.toDouble, _ => Ann.annSq8(spark, dir, nq, k).collect(),
        recallCheck("ann_sq8", truthBatch)),
      ("ann", "ann_pq", nq.toDouble, _ => Ann.annPq(spark, dir, nq, k).collect(),
        recallCheck("ann_pq", truthBatch)),
      ("ann", "ann_ivf", nq.toDouble, _ => Ann.annIvf(spark, dir, nq, k).collect(),
        recallCheck("ann_ivf", truthBatch)))
    // each write returns the index after the update; the insert and the
    // delete-then-insert round trip are defined to equal the full
    // rebuild, i.e. the persisted index, and the delete (of every
    // vec_id ≡ 0 mod 10) must leave no edge touching a deleted vector
    val sameAsFull: (String, Array[Row]) => Unit = (fn, rows) =>
      check(s"$fn equals the full index", Checks.sameEdges(rows, fullIndex),
        s"${rows.length} rows vs ${fullIndex.length}")
    val writes: Seq[(String, () => Array[Row], (String, Array[Row]) => Unit)] = Seq(
      ("hnsw_insert_delta", () => Ann.hnswInsertDelta(spark, dir).collect(), sameAsFull),
      ("hnsw_delete_delta", () => Ann.hnswDeleteDelta(spark, dir).collect(), (fn, rows) =>
        check(s"$fn leaves no edge at a deleted vector", rows.nonEmpty && rows.forall { r =>
          r.getAs[Long]("src") % 10 != 0 && r.getAs[Long]("dst") % 10 != 0 }, "deleted ids remain")),
      ("hnsw_upsert_roundtrip", () => Ann.hnswUpsertRoundtrip(spark, dir).collect(), sameAsFull))

    def runRead(i: Int, phase: String, iter: Int, q: Long): Unit = {
      val (layer, fn, items, f, ck) = reads(i)
      val (_, rows) = call(layer, fn, phase, iter, items,
        if (fn == "knn_topk") s"qid=$q" else "")(f(q))
      rows.foreach(ck(_, q))
    }
    def runWrite(i: Int, phase: String, iter: Int): Unit = {
      val (fn, f, ck) = writes(i)
      val (_, rows) = call("ann", fn, phase, iter, 0.0)(f())
      rows.foreach(ck(fn, _))
    }

    setup { rep =>
      val (_, genS) = timed {
        dir = dataDir(s"vector_serve-$rep")
        Gen.writeVecs(spark, dir, vecs)
      }
      val (_, storeS) = timed {
        fullIndex = traceSetup("ensure_full_index")(Ann.ensureFullIndex(spark, dir).collect())
        traceSetup("ensure_full_index_vec")(Ann.ensureFullIndexVec(spark, dir).count())
        traceSetup("ensure_base_index")(Ann.ensureBaseIndex(spark, dir).count())
      }
      Map("generate_s" -> genS, "store_build_s" -> storeS)
    }((0 until cfg.int("warmup_rounds")).foreach(round =>
      reads.indices.foreach(runRead(_, "warmup", round, 0L))))

    // one cycle: `reads_per_cycle` reads, every read in turn (so each
    // read appears equally often), and `writes_per_cycle` writes, the
    // three in turn from a seeded start; the order in a cycle and
    // knn_topk's qid are seeded too. The writes need no warm-up: their
    // first call costs what later ones do
    val cycle = Seq.tabulate(cfg.int("reads_per_cycle"))(i => Left(i % reads.size)) ++
      Seq.fill(cfg.int("writes_per_cycle"))(Right(()))
    var w = rnd.nextInt(writes.size)
    loop { i =>
      shuffle(cycle, rnd).foreach {
        case Left(r) => runRead(r, "loop", i, rnd.nextInt(n).toLong)
        case Right(_) => runWrite(w % writes.size, "loop", i); w += 1
      }
    }
  }

  // ------------------------------------------------------ index_build

  private def indexBuild(): Unit = {
    val (n, dim, clusters, m) =
      (cfg.int("n"), cfg.int("dim"), cfg.int("clusters"), cfg.int("m"))
    val vecs = Gen.clustered(cfg.seed, n, dim, clusters)
    val exact = new Checks.Exact(vecs)
    val truthGraph = (0 until n).map(i => exact.topK(i.toLong, m + 1).filter(_ != i).take(m))
    val perCall = n.toDouble / 6

    def pass(d: String, phase: String, iter: Int): Unit = {
      val (_, exactRows) = call("ann", "hnsw_edges", phase, iter, perCall)(
        Ann.hnswEdges(spark, d, m).collect())
      val (_, approxRows) = call("ann", "hnsw_edges_approx", phase, iter, perCall)(
        Ann.hnswEdgesApprox(spark, d, m).collect())
      for (e <- exactRows; a <- approxRows) {
        val r = Checks.edgeRecall(a, e)
        extra("recall.hnsw_edges_approx") = r
        val floor = cfg.dbl("floor.hnsw_edges_approx")
        check(s"hnsw_edges_approx edge recall >= $floor", r >= floor, f"edge recall $r%.3f")
      }
      val (_, graph) = call("knn", "knn_graph", phase, iter, perCall)(
        Knn.knnGraph(spark, d, m).collect())
      graph.foreach { rows =>
        check("knn_graph equals brute force", Checks.sameGraph(rows, truthGraph),
          "m-NN lists differ")
      }
      call("similarity", "kmeans_iter", phase, iter, perCall)(
        Similarity.kmeansIter(spark, d).collect())
      call("ann", "pq_codes", phase, iter, perCall)(Ann.pqCodes(spark, d).collect())
      call("ann", "sq8_codes", phase, iter, perCall)(Ann.sq8Codes(spark, d).collect())
    }

    // every pass builds from its own copy of the corpus: the store and
    // the in-JVM memos are keyed by the input's path, so nothing one
    // pass built is reused by the next
    var dir = ""
    setup { rep =>
      val (_, genS) = timed {
        dir = dataDir(s"index_build-$rep")
        Gen.writeVecs(spark, dir, vecs)
      }
      Map("generate_s" -> genS)
    }(())
    loop { i =>
      val d = if (i == 0) dir else dataDir(s"index_build-pass-$i")
      if (i > 0) Gen.writeVecs(spark, d, vecs)
      pass(d, "loop", i)
    }
  }

  // ----------------------------------------------------- llm_pipeline

  private def llmPipeline(): Unit = {
    val (nDocs, nVecs, dim, dupShare) =
      (cfg.int("docs"), cfg.int("vectors"), cfg.int("dim"), cfg.dbl("dup_share"))
    val (docs, docPairs) = Gen.documents(cfg.seed, nDocs, dupShare)
    val (vecs, vecPairs) = Gen.withNearDups(cfg.seed, nVecs, dim, dupShare)
    val eps = 1.1
    val truePairs = new Checks.Exact(vecs).pairsWithin(eps)
    val exactDups = docPairs.filter { case (c, o) => docs.texts(c.toInt) == docs.texts(o.toInt) }
    val calls: Seq[(String, String, String => DataFrame)] = Seq(
      ("textops", "quality_filter", d => TextOps.qualityFilter(spark, d)),
      ("textops", "langid_trigram", d => TextOps.langidTrigram(spark, d)),
      ("textops", "dedup_docs_exact", d => TextOps.dedupDocsExact(spark, d)),
      ("textops", "minhash_lsh_dedup", d => TextOps.minhashLshDedup(spark, d)),
      ("textops", "simhash64_near_dup", d => TextOps.simhash64NearDup(spark, d)),
      ("textops", "substring_dedup", d => TextOps.substringDedup(spark, d)),
      ("textops", "contamination_scan", d => TextOps.contaminationScan(spark, d)),
      ("textops", "tfidf_topk", d => TextOps.tfidfTopk(spark, d)),
      ("textops", "training_manifest", d => TextOps.trainingManifest(spark, d)),
      ("similarity", "semantic_dedup", d => Similarity.semanticDedup(spark, d)),
      ("similarity", "near_dup_pairs", d => Similarity.nearDupPairs(spark, d, eps)))
    val perCall = nDocs.toDouble / calls.size

    def checkOutput(fn: String, rows: Array[Row]): Unit = fn match {
      case "quality_filter" =>
        check("quality_filter tags every document", rows.length == nDocs, s"${rows.length} rows")
      case "near_dup_pairs" =>
        val got = rows.map(r => Checks.pairKey(r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
        check("near_dup_pairs equals brute force", got == truePairs,
          s"${got.size} pairs vs ${truePairs.size}")
      case "dedup_docs_exact" =>
        val groups = rows.map(_.getAs[scala.collection.Seq[Long]]("ids").toSet)
        check("dedup_docs_exact groups every planted exact copy with its original",
          exactDups.forall { case (c, o) => groups.exists(g => g(c) && g(o)) },
          "a planted exact copy is not grouped")
      case "minhash_lsh_dedup" | "simhash64_near_dup" | "semantic_dedup" =>
        val r = Checks.pairRecall(rows, if (fn == "semantic_dedup") vecPairs else docPairs)
        extra(s"recall.$fn") = r
        val floor = cfg.dbl(s"floor.$fn")
        check(s"$fn finds planted near-duplicates (recall >= $floor)", r >= floor,
          f"recall $r%.3f")
      case _ => ()
    }
    def pass(d: String, phase: String, iter: Int): Unit =
      calls.foreach { case (layer, fn, f) =>
        val (_, rows) = call(layer, fn, phase, iter, perCall)(f(d).collect())
        rows.foreach(checkOutput(fn, _))
      }
    def write(d: String): Unit = {
      Gen.writeDocs(spark, d, docs)
      Gen.writeVecs(spark, d, vecs)
    }

    // every pass runs on its own copy of the inputs, so no in-JVM memo
    // keyed by the input's path is reused across passes
    var dir = ""
    setup { rep =>
      val (_, genS) = timed {
        dir = dataDir(s"llm_pipeline-$rep")
        write(dir)
      }
      Map("generate_s" -> genS)
    }(())
    loop { i =>
      val d = if (i == 0) dir else dataDir(s"llm_pipeline-pass-$i")
      if (i > 0) write(d)
      pass(d, "loop", i)
    }
  }

  // ---------------------------------------------------- zvdb_baseline

  private def zvdbBaseline(): Unit = {
    def runOnce(phase: String, iter: Int, n: Int, q: Int): Unit = {
      var got = (0.0, 0.0)
      val (rec, _) = call("baseline", "baseline_workload_run", phase, iter, q.toDouble,
          s"q=$q") {
        got = BaselineWorkload.run(spark, n = n, nQ = q)
        Array.empty[Row]
      }
      if (rec.ok && phase == "loop") {
        extra(s"baseline.build_s.$iter") = got._1
        extra(s"baseline.search_s.$iter") = got._2
      }
      // its own `require`s check the indexed count and the result count
      check(s"BaselineWorkload.run requirements hold ($phase $iter)",
        !rec.err.contains("requirement failed"), rec.err)
    }
    // the inputs are generated inside the run's own timed phases, so
    // a set-up rep is a JIT warm-up run with fewer queries
    setup { rep =>
      Map("warmup_s" -> timed(runOnce("warmup", rep, BaselineWorkload.N, cfg.int("warmup_q")))._2)
    }(())
    loop(i => runOnce("loop", i, BaselineWorkload.N, BaselineWorkload.Q))
    if (cfg.trace) kernelLoop()
  }

  /** Single-thread ns per `VectorKernel.dot` call at 64 and 128 dims
    * (median of 5 timed blocks after a warm-up block). */
  private def kernelLoop(): Unit = for (dim <- Seq(64, 128)) {
    val rows = 4096
    val r = new java.util.SplittableRandom(cfg.seed)
    val flat = Array.fill(rows * dim)(r.nextDouble().toFloat)
    val q = Array.fill(dim)(r.nextDouble().toFloat)
    var sink = 0.0f
    def block(): Double = {
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 100) {
        var i = 0
        while (i < rows) { sink += VectorKernel.dot(q, 0, flat, i * dim, dim); i += 1 }
        rep += 1
      }
      (System.nanoTime() - t0).toDouble / (100.0 * rows)
    }
    block()
    extra(s"kernel.dot${dim}_ns") = Seq.fill(5)(block()).sorted.apply(2)
    // keeps the dot products observable, so the JIT cannot drop the loop
    if (sink == 42.0f) System.err.println("")
  }

  // ----------------------------------------------------------- set-up

  /** Set-up: `setup_reps` reps of `rep` (each on its own input
    * directory, so no rep reuses a store another built), then one
    * warm-up, whose calls are recorded but kept out of the loop's
    * samples. */
  private def setup(rep: Int => Map[String, Double])(warmup: => Unit): Unit = {
    (0 until cfg.int("setup_reps")).foreach { i =>
      setups += rep(i)
      System.err.println(s"[perfbench] set-up rep $i: ${setups.last}")
    }
    val (_, warmS) = timed(warmup)
    extra("setup.warmup_s") = warmS
  }

  /** A set-up step traced as its own span. */
  private def traceSetup[T](fn: String)(body: => T): T = {
    val spanId = tracer.newId()
    if (cfg.trace) sc.setJobGroup(Tracer.group(spanId), s"ann.$fn", interruptOnCancel = false)
    val startUs = System.currentTimeMillis() * 1000L
    val t0 = System.nanoTime()
    try body finally {
      val dur = (System.nanoTime() - t0) / 1e9
      if (cfg.trace) {
        sc.clearJobGroup()
        tracer.add(Span(spanId, 0L, spanId, s"ann.$fn", "setup", startUs,
          startUs + (dur * 1e6).toLong, Map.empty))
      }
    }
  }

  private def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  // ----------------------------------------------------------- record

  def record(nproc: Int): Map[String, Any] = Map(
    "workload" -> cfg.workload,
    "seed" -> cfg.seed,
    "seconds" -> cfg.seconds,
    "trace" -> cfg.trace,
    "failure" -> failure.orNull,
    "env" -> Map(
      "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "simd" -> VectorKernel.simdEnabled,
      "spark_version" -> spark.version,
      "confs" -> spark.conf.getAll.filter { case (k, _) =>
        Set("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
          "spark.sql.session.timeZone")(k) },
      "params" -> cfg.params),
    "setup" -> setups.toSeq,
    "ops" -> ops.toSeq.map(o => Map(
      "layer" -> o.layer, "fn" -> o.fn, "arg" -> o.arg, "phase" -> o.phase,
      "iter" -> o.iter, "start_us" -> o.startUs, "dur_s" -> o.durS,
      "ok" -> o.ok, "err" -> o.err, "items" -> o.items, "rows" -> o.rows, "hash" -> o.hash,
      "span" -> o.spanId)),
    "checks" -> checks.toSeq.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
    "extra" -> extra.toMap,
    "spans" -> (if (cfg.trace) listener.spansSnapshot.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name, "kind" -> s.kind,
      "start_us" -> s.start, "end_us" -> s.end, "attrs" -> s.attrs)) else Seq.empty))
}

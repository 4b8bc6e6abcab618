package graft.perfbench

import graft.SparkEntry
import graft.media.DefaultMedia
import graft.model.{Doc, DocSig}
import graft.pipeline.{Blocking, Components, GraftConfig, Incremental, Pairs, PerfbenchAccess, Pipeline, Signatures}
import graft.streaming.StreamIngest
import graft.synth.Corpus
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Input sizes and warm-up lengths of every workload (perfbench/README.md
  * documents them).
  */
object Sizes {
  val batchEntities = 2000
  /** untimed runs between the checked first run and the timed window */
  val warmUpOps = 2
  val skewEntities = 2000
  val skewZipfTypes = 2000
  val skewHotCopies = 300
  val skewHotBlockSize = 64
  val lifecycleEntities = 2000
  val sweepDocs = 400
  val sweepWarmUpPasses = 2
}

/** `batch` / `batch_skew`: the block → score → cluster pipeline on a
  * labeled synthetic corpus held in memory. One op = `Pipeline.run` +
  * `clusters.count()` + `release()`. The traced run of `batch` also replays
  * the write path's layers on its corpus.
  */
final class BatchWorkload(a: PerfBench.Args, r: Result, skew: Boolean)
    extends Workload(a, r) with CorpusInput with LifecycleSteps {
  val params: Corpus.Params =
    if (skew) Corpus.Params(entities = Sizes.skewEntities, minWords = 150, maxWords = 400,
      seed = a.seed, zipfTypes = Sizes.skewZipfTypes, hotEntityCopies = Sizes.skewHotCopies)
    else Corpus.Params(entities = Sizes.batchEntities, minWords = 150, maxWords = 400, seed = a.seed)
  val cfg: GraftConfig =
    if (skew) Corpus.RecommendedConfig.copy(hotBlockSize = Sizes.skewHotBlockSize)
    else Corpus.RecommendedConfig

  /** One pipeline op, returning its seconds; `check` adds the output checks. */
  def runOnce(check: Boolean): Double = {
    val t0 = System.nanoTime()
    val out = Pipeline.run(spark, docs, cfg)
    val rows = out.clusters.count()
    val run = secs(t0)
    res.op(rows == nDocs)
    if (check) {
      res.check("one cluster row per doc",
        rows == nDocs && out.clusters.select("doc_id").distinct().count() == nDocs,
        s"rows=$rows docs=$nDocs")
      val f1 = pairF1(out.clusters)
      res.metric("quality.pair_f1", f1, "ratio")
      res.check("pair_f1 >= 0.99", f1 >= 0.99, f"f1=$f1%.5f")
      val collapsed = collapsedDocs(docs)
      val salted = out.stats.saltedBlocks
      if (skew) res.check("skew path: salted blocks and collapsed docs",
        salted > 0 && collapsed > 0, s"salted_blocks=$salted collapsed_docs=$collapsed")
      else res.check("uniform path: no salted blocks, no collapsed docs",
        salted == 0 && collapsed == 0, s"salted_blocks=$salted collapsed_docs=$collapsed")
    }
    val t1 = System.nanoTime()
    out.release()
    run + secs(t1)
  }

  def timed(): Unit = {
    setup(() => makeCorpus(params))
    // JIT warm-up: the planning of some thirty Spark jobs per
    // run and the per-doc kernels need several runs before they run
    // compiled; the first run also carries the output checks
    runOnce(check = true)
    (1 to Sizes.warmUpOps).foreach(_ => runOnce(check = false))
    tracer.resetPeak()
    val times = loop(minOps = 3)(_ => runOnce(check = false))
    res.metric("op_s", Stats.median(times), "s")
    res.metric("peak_cached_mb", mb(tracer.peakCachedBytes), "MB")
  }

  def traced(): Unit = {
    val ss = { startSession(); makeCorpus(params); spark }
    import ss.implicits._
    Kernels.measure(kernelSample(), cfg).foreach { case (k, v) => res.metric(k, v, "ns") }
    val k = res.metrics.map { case (n, (v, _)) => n -> v }

    runOnce(check = true)
    runOnce(check = false)
    // after a JIT warm-up run, untraced, traced, traced, untraced: a steady
    // warm-up trend cancels out of the overhead; the last traced op
    // supplies the pipeline metrics
    def tracedOnce(): Span = tracer.span("pipeline") {
      val out = Pipeline.run(spark, docs, cfg)
      res.op(out.clusters.count() == nDocs)
      out.release()
    }._2
    val u1 = runOnce(check = false)
    val t1 = tracedOnce()
    val pipeSpan = tracedOnce()
    val u2 = runOnce(check = false)
    spanMetrics("pipeline", pipeSpan,
      Seq("wall_s", "task_s", "jobs", "shuffle_write_mb", "spill_mb", "busy_frac"))
    res.metric("trace.overhead_frac", (t1.wallS + pipeSpan.wallS) / (u1 + u2) - 1.0, "ratio")
    res.metric("pipeline.collapsed_docs", collapsedDocs(docs).toDouble, "count")

    // layer replay: the public calls Pipeline.run makes, one span each,
    // each stage materialized the way Pipeline.run materializes it
    val mem = StorageLevel.MEMORY_AND_DISK
    val ((pdocs, expansion), _) = tracer.span("collapse") { PerfbenchAccess.precollapse(spark, docs) }
    val (sigRes, sigSpan) = tracer.span("signatures") {
      val s = Signatures.derive(pdocs, cfg, DefaultMedia)(spark).toDF().persist(mem)
      s.count(); s
    }
    val sigs = sigRes.select("sig.*").as[DocSig]
    val sigDocs = sigRes.count()
    val badMedia = sigRes.select(explode(col("errors"))).count()
    val mediaRows = sigs.select(size(col("media")).as("m")).agg(sum("m")).head().getLong(0)
    spanMetrics("signatures", sigSpan, Seq("wall_s", "task_s"))
    res.metric("signatures.docs", sigDocs.toDouble, "count")
    res.metric("signatures.bad_media", badMedia.toDouble, "count")
    res.metric("signatures.overhead_s", tracer.statsOf(sigSpan).taskS -
      (sigDocs * (k("kernel.shingle_ns") + k("kernel.minhash_ns") + k("kernel.simhash_ns")) +
        mediaRows * k("kernel.phash_ns")) / 1e9, "s")

    val ((cands, stats), blkSpan) = tracer.span("blocking") {
      val (c, st, rel) = Blocking.candidatePairs(sigs, cfg)(spark)
      val cp = c.persist(mem)
      cp.count(); rel(); (cp, st)
    }
    val nCands = cands.count()
    spanMetrics("blocking", blkSpan, Seq("wall_s", "task_s", "shuffle_write_mb", "spill_mb", "task_skew"))
    val bands = Blocking.bandRowsDF(sigs, cfg)
    res.metric("blocking.band_rows", bands.count().toDouble, "count")
    res.metric("blocking.max_block",
      bands.groupBy("block_key").count().agg(max("count")).head().getLong(0).toDouble, "count")
    res.metric("blocking.salted_blocks", stats.saltedBlocks.toDouble, "count")
    res.metric("blocking.dropped_rows", stats.droppedRows.toDouble, "count")
    res.metric("blocking.candidates", nCands.toDouble, "count")
    res.metric("blocking.candidates_per_doc", nCands.toDouble / sigDocs, "ratio")
    res.metric("blocking.reduction_ratio", 1.0 - nCands / (sigDocs * (sigDocs - 1) / 2.0), "ratio")
    val lab = labeled.withColumnRenamed("doc_id", "id")
    val repLabels = pdocs.select("doc_id").join(labeled, "doc_id")
    val truePairs = repLabels.groupBy("label").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().get(0).toString.toDouble
    val foundPairs = cands.join(lab.as("la"), col("a") === col("la.id"))
      .join(lab.as("lb"), col("b") === col("lb.id"))
      .filter(col("la.label") === col("lb.label")).count()
    res.metric("blocking.pair_completeness", if (truePairs == 0) 1.0 else foundPairs / truePairs, "ratio")

    val ((scored, edges), pairSpan) = tracer.span("pairs") {
      val s = Pairs.score(cands, sigs, cfg)(spark).persist(mem)
      s.count()
      (s, Pairs.edges(s))
    }
    val nScored = scored.count()
    val nEdges = edges.count()
    spanMetrics("pairs", pairSpan, Seq("wall_s", "task_s", "shuffle_read_mb"))
    res.metric("pairs.scored", nScored.toDouble, "count")
    res.metric("pairs.edges", nEdges.toDouble, "count")
    res.metric("pairs.edge_yield", if (nCands == 0) 0.0 else nEdges.toDouble / nCands, "ratio")
    // only pairs the media channel did not decide run the text scorers
    val textScored = scored.filter(col("jw").isNotNull).count()
    res.metric("pairs.overhead_s", tracer.statsOf(pairSpan).taskS -
      textScored * (k("kernel.jw_ns") + k("kernel.lev_ns")) / 1e9, "s")

    val (assign, ccSpan) = tracer.span("components") {
      val c = Components.connectedComponents(edges, cfg.maxCcIterations)(spark).persist(mem)
      c.count(); c
    }
    spanMetrics("components", ccSpan, Seq("wall_s", "jobs"))
    res.metric("components.clusters", assign.select("cluster_id").distinct().count().toDouble, "count")

    val layers = Seq(sigSpan, blkSpan, pairSpan, ccSpan).map(_.wallS).sum
    res.metric("pipeline.unattributed_s", pipeSpan.wallS - layers, "s")
    Seq(sigRes, cands, scored, assign).foreach(_.unpersist())
    expansion.foreach(_.unpersist())
    if (!skew) {
      seedState()
      traceLayers()
      traceSteps()
      checkState(1)
    }
    recordSpans()
  }
}

/** The write path on a workload's labeled corpus: a generation seeded from
  * ~80% of the docs, 5% batches folded into it and ~1% takedowns retracted
  * from it, and the traced replay of its layers (TableIO, `Incremental`,
  * `StreamIngest`). `lifecycle` times it; `batch`'s traced run replays it on
  * its own corpus.
  */
trait LifecycleSteps { self: Workload with CorpusInput =>
  def cfg: GraftConfig
  val batches = 4
  var stateDir: String = _
  var pass = 0
  val removed = mutable.LinkedHashSet.empty[String]
  val genKinds = mutable.ArrayBuffer.empty[String]

  /** docs in twentieths by id hash: 0-15 seed the generation, 16.. are the batches */
  def part: org.apache.spark.sql.Column = pmod(xxhash64(col("doc_id")), lit(20))
  def batch(k: Int): Dataset[Doc] = docs.filter(part === 16 + k)
  def live(folded: Int): Dataset[Doc] = {
    val d = docs.filter(part < 16 + folded)
    if (removed.isEmpty) d else d.filter(!col("doc_id").isin(removed.toSeq: _*))
  }

  def seedState(): Unit = {
    pass += 1
    stateDir = s"${a.work}/state-$pass"
    deleteTree(java.nio.file.Paths.get(stateDir))
    removed.clear()
    StreamIngest.seed(spark, docs.filter(part < 16), stateDir, cfg)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    deleteTree(dst)
    val s = java.nio.file.Files.walk(src)
    try s.forEach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally s.close()
  }

  def maybeSpan[A](name: String)(body: => A): A =
    if (name == null) body else tracer.span(name)(body)._1

  def genKind(): String =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(StreamIngest.currentDir(stateDir), "PARENT")))
      "delta" else "compacted"

  /** the ids one step retracts: ~1% of the live corpus, chosen by seed */
  def takedown(folded: Int, step: Int): DataFrame = {
    val ids = live(folded).select("doc_id")
      .filter(pmod(xxhash64(col("doc_id"), lit(a.seed * 1000 + step)), lit(100)) === 0)
      .collect().map(_.getString(0))
    removed ++= ids
    spark.createDataFrame(ids.toSeq.map(Tuple1(_))).toDF("doc_id")
  }

  /** One lifecycle step (fold batch k, then retract): (fold s, retract s). */
  def step(k: Int, i: Int, foldSpan: String = null, retractSpan: String = null): (Double, Double) = {
    val tf = timedS(maybeSpan(foldSpan) {
      StreamIngest.foldBatch(spark, batch(k), (pass - 1) * batches + k + 1L, stateDir, cfg)
    })._2
    genKinds += s"fold ${k + 1}: ${genKind()}"
    val rm = takedown(k + 1, i)
    val tr = timedS(maybeSpan(retractSpan) {
      StreamIngest.retractBatch(spark, live(k + 1), rm, stateDir, cfg)
    })._2
    genKinds += s"retract ${k + 1}: ${genKind()}"
    (tf, tr)
  }

  /** committed state == a full Pipeline.run over the surviving docs;
    * returns the state's pair F1 */
  def checkState(folded: Int): Double = {
    val (_, assign) = StreamIngest.readCurrentState(spark, stateDir)
    val full = Pipeline.run(spark, live(folded), cfg)
    val want = full.clusters.select(col("doc_id"), col("cluster_id").as("want"))
    val diff = assign.select(col("doc_id"), col("cluster_id").as("got"))
      .join(want, Seq("doc_id"), "full_outer")
      .filter(col("got").isNull || col("want").isNull || col("got") =!= col("want")).count()
    res.check("committed state equals a full run over the surviving docs", diff == 0,
      s"differing_docs=$diff")
    val f1 = pairF1(assign)
    res.check("pair_f1 >= 0.99", f1 >= 0.99, f"f1=$f1%.5f")
    full.release()
    f1
  }

  def logGenerations(): Unit = {
    System.err.println(s"[perfbench] generations: ${genKinds.mkString(", ")}")
    res.sections("generations") = genKinds.map(Json.str).mkString("[", ",", "]")
  }

  /** Layer replay against the seeded generation: read state, fold batch 0
    * with `Incremental.run`, write the next generation into a side
    * directory, retract ~1% of the seeded docs with `Incremental.retract`.
    */
  def traceLayers(): Unit = {
    val mem = StorageLevel.MEMORY_AND_DISK
    val ((sigs, assign, bands), readSpan) = tracer.span("tableio.read") {
      val (s0, as0) = StreamIngest.readCurrentState(spark, stateDir)
      val s = s0.persist(mem); val as = as0.persist(mem)
      val b = Pipeline.readBands(spark, StreamIngest.currentDir(stateDir)).get.persist(mem)
      s.count(); as.count(); b.count()
      (s, as, b)
    }
    val (inc, foldSpan) = tracer.span("incremental.fold") {
      val i = Incremental.run(spark, sigs, assign, batch(0), cfg, existingBands = Some(bands))
      i.assignments.count(); i.remapped.count(); i
    }
    val side = s"${a.work}/side-generation"
    deleteTree(java.nio.file.Paths.get(side))
    val (_, writeSpan) = tracer.span("tableio.write") {
      Incremental.writeState(spark, side, sigs.unionByName(inc.batchSigs),
        Incremental.applyRemap(assign, inc.remapped).unionByName(inc.assignments), a.seed,
        Some(bands.unionByName(Blocking.bandRowsDF(inc.batchSigs, cfg))))
    }
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(side))
    val written = try files.filter(p => p.toString.endsWith(".parquet")).toArray.toSeq
      .map(p => java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path])) finally files.close()
    deleteTree(java.nio.file.Paths.get(side))
    res.metric("tableio.read_s", readSpan.wallS, "s")
    res.metric("tableio.write_s", writeSpan.wallS, "s")
    res.metric("tableio.bytes_written_mb", mb(written.sum), "MB")
    res.metric("tableio.files_written", written.size.toDouble, "count")
    res.metric("incremental.fold_s", foldSpan.wallS, "s")
    val fst = tracer.statsOf(foldSpan)
    res.metric("incremental.fold_task_s", fst.taskS, "s")
    res.metric("incremental.fold_shuffle_write_mb", mb(fst.shuffleWriteBytes), "MB")
    res.metric("incremental.remapped_clusters", inc.remapped.count().toDouble, "count")
    inc.release()

    val rm = docs.filter(part < 16).select("doc_id")
      .filter(pmod(xxhash64(col("doc_id"), lit(a.seed)), lit(100)) === 0)
    val (rr, retractSpan) = tracer.span("incremental.retract") {
      val x = Incremental.retract(spark, docs.filter(part < 16), assign, rm, cfg, existingSigs = Some(sigs))
      x.assignments.count(); x
    }
    res.metric("incremental.retract_s", retractSpan.wallS, "s")
    res.metric("incremental.touched_clusters", rr.touched.count().toDouble, "count")
    res.metric("incremental.reassigned_docs", rr.reassigned.count().toDouble, "count")
    rr.release()
    Seq(sigs.toDF(), assign, bands).foreach(_.unpersist())
  }

  /** The public lifecycle calls: one traced fold and retract step on the
    * committed generation, the state's size and chain, and the output check.
    */
  def traceSteps(): Unit = {
    val (_, tr) = step(0, 0, foldSpan = "streamingest.fold", retractSpan = "streamingest.retract")
    val f0 = tracer.byName("streamingest.fold").head
    val st = tracer.statsOf(f0)
    res.metric("streamingest.fold_s", f0.wallS, "s")
    res.metric("streamingest.retract_s", tr, "s")
    res.metric("streamingest.fold_jobs", st.jobs, "count")
    res.metric("streamingest.fold_task_s", st.taskS, "s")
    res.metric("streamingest.fold_busy_frac", st.taskS / (f0.wallS * a.cores), "ratio")
    val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(stateDir))
    val stateBytes = try stateFiles.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
      .map(p => java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path])).sum finally stateFiles.close()
    res.metric("streamingest.state_mb", mb(stateBytes), "MB")
    def chain(dir: String): Int = {
      val p = java.nio.file.Paths.get(dir, "PARENT")
      if (java.nio.file.Files.exists(p)) 1 + chain(s"$stateDir/${java.nio.file.Files.readString(p).trim}") else 1
    }
    res.metric("streamingest.chain_len", chain(StreamIngest.currentDir(stateDir)), "count")
    res.metric("streamingest.delta_gens", genKinds.count(_.endsWith("delta")), "count")
    res.metric("streamingest.compacted_gens", genKinds.count(_.endsWith("compacted")), "count")
    logGenerations()
  }
}

/** `lifecycle`: a generation seeded from ~80% of a labeled corpus (set-up),
  * then steps of one `StreamIngest.foldBatch` of a ~5% batch followed by one
  * `StreamIngest.retractBatch` of ~1% of the live ids.
  */
final class LifecycleWorkload(a: PerfBench.Args, r: Result)
    extends Workload(a, r) with CorpusInput with LifecycleSteps {
  val cfg: GraftConfig = Corpus.RecommendedConfig
  val params = Corpus.Params(entities = Sizes.lifecycleEntities, minWords = 150, maxWords = 400,
    seed = a.seed)

  def timed(): Unit = {
    setup(() => { makeCorpus(params); seedState() })
    tracer.resetPeak()
    var k = 0
    val times = loop(minOps = 2) { i =>
      if (k == batches) { seedState(); k = 0 }
      val (tf, tr) = step(k, i)
      res.op(true)
      k += 1
      tf + tr
    }
    res.metric("op_s", Stats.median(times), "s")
    res.metric("peak_cached_mb", mb(tracer.peakCachedBytes), "MB")
    logGenerations()
    res.metric("quality.pair_f1", checkState(k), "ratio")
  }

  def traced(): Unit = {
    startSession()
    makeCorpus(params)
    seedState()
    Kernels.measure(kernelSample(), cfg).foreach { case (n, v) => res.metric(n, v, "ns") }
    traceLayers()
    // tracing overhead, like for like: the same fold of batch 0 into copies
    // of the seeded generation; one fold warms the JIT, then untraced,
    // traced, traced, untraced (a steady warm-up trend cancels out)
    def foldCopy(i: Int, span: String): Double = {
      val dir = s"${a.work}/overhead-$i"
      copyTree(stateDir, dir)
      val t = timedS(maybeSpan(span)(StreamIngest.foldBatch(spark, batch(0), 0L, dir, cfg)))._2
      deleteTree(java.nio.file.Paths.get(dir))
      t
    }
    foldCopy(0, null)
    val u1 = foldCopy(1, null)
    val t1 = foldCopy(2, "overhead.fold")
    val t2 = foldCopy(3, "overhead.fold")
    val u2 = foldCopy(4, null)
    res.metric("trace.overhead_frac", (t1 + t2) / (u1 + u2) - 1.0, "ratio")
    traceSteps()
    res.metric("quality.pair_f1", checkState(1), "ratio") // batch 0 is folded
    recordSpans()
  }
}

/** `sweep`: the operator surface — `SparkEntry.queries`, each run once with
  * `.count()` in alphabetical order, over a seeded table directory. One op =
  * one pass in a fresh Spark application (cold session memos).
  */
final class SweepWorkload(a: PerfBench.Args, r: Result) extends Workload(a, r) {
  val tables = s"${a.work}/tables"
  val counts = mutable.LinkedHashMap.empty[String, Long]

  /** One pass over `names`: per-query seconds. Every query must run, and
    * its row count must not change between passes.
    */
  def pass(names: Seq[String], traceSpans: Boolean = false): Seq[(String, Double)] =
    names.map { q =>
      val fn = SparkEntry.queries(q)
      val t0 = System.nanoTime()
      val n = try {
        if (traceSpans) tracer.span(s"sweep.$q")(fn(spark, tables).count())._1
        else fn(spark, tables).count()
      } catch {
        case e: Throwable =>
          res.check(s"$q runs", ok = false,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
          -1L
      }
      val t = secs(t0)
      res.op(n >= 0)
      counts.get(q) match {
        case Some(prev) if prev != n =>
          res.check(s"$q row count is stable across passes", ok = false, s"$prev vs $n")
        case _ => counts(q) = n
      }
      System.err.println(f"[perfbench] $q%-24s $t%.3f s  rows=$n")
      q -> t
    }

  /** the timed set's oracle-backed queries with their counts, for run.py's
    * DuckDB check. Golden-snapshot oracles describe the committed sf tables,
    * not these generated ones, so they are left out; so are the traced-only
    * leaves, whose brute-force oracles take minutes in DuckDB.
    */
  def oracleSection(): Unit = {
    val oracle = SparkEntry.oracleSql
    res.sections("oracle") = Json.obj(counts.toSeq.filter(q => Sweep.queries.contains(q._1)).flatMap { case (q, n) =>
      oracle.get(q).filterNot(_.contains("/golden/")).map(sql =>
        q -> Json.obj(Seq("count" -> n.toString, "sql" -> Json.str(sql))))
    })
    res.sections("tables") = Json.str(tables)
  }

  def timed(): Unit = {
    setup(() => SweepTables.write(spark, tables, a.seed, Sizes.sweepDocs))
    // JIT and codegen caches, each pass in a fresh application as the
    // timed ones are: a fresh session runs code a warm one skips
    (1 to Sizes.sweepWarmUpPasses).foreach { _ => startSession(); pass(Sweep.queries) }
    tracer.resetPeak()
    var peak = 0L
    val times = loop(minOps = 3) { _ =>
      peak = math.max(peak, tracer.peakCachedBytes)
      startSession() // a fresh application: every session memo starts cold
      pass(Sweep.queries).map(_._2).sum
    }
    peak = math.max(peak, tracer.peakCachedBytes)
    res.metric("op_s", Stats.median(times), "s")
    res.metric("peak_cached_mb", mb(peak), "MB")
    oracleSection()
  }

  /** `Bench.scala`'s protocol: one cold pass in a fresh JVM and application,
    * then a memo-warm pass in the same application.
    */
  def traced(): Unit = {
    startSession()
    SweepTables.write(spark, tables, a.seed, Sizes.sweepDocs)
    val (cold, coldSpan) = tracer.span("sweep.cold") { pass(Sweep.traced, traceSpans = true) }
    val warm = tracer.span("sweep.warm") { pass(Sweep.traced, traceSpans = true) }._1
    // tracing overhead on the timed set, memo-warm: untraced, traced,
    // traced, untraced passes (a steady warm-up trend cancels out)
    def passS(traced: Boolean): Double = pass(Sweep.queries, traceSpans = traced).map(_._2).sum
    val untraced1 = passS(false)
    val traced = passS(true) + passS(true)
    val untraced = untraced1 + passS(false)
    val coldS = cold.map(_._2).sum
    val warmS = warm.map(_._2).sum
    val st = tracer.statsOf(coldSpan)
    res.metric("sweep.jobs", st.jobs, "count")
    res.metric("sweep.task_s", st.taskS, "s")
    res.metric("sweep.shuffle_write_mb", mb(st.shuffleWriteBytes), "MB")
    res.metric("sweep.cold_s", coldS, "s")
    res.metric("sweep.geomean_s", Stats.geomean(cold.map(_._2)), "s")
    res.metric("sweep.warm_s", warmS, "s")
    res.metric("sweep.memo_cold_s", coldS - warmS, "s")
    res.metric("trace.overhead_frac", traced / untraced - 1.0, "ratio")
    val byName = cold.toMap
    Sweep.named.foreach(q => res.metric(s"sweep.${q}_s", byName(q), "s"))
    res.metric("sweep.rest_s", cold.filterNot(q => Sweep.named.contains(q._1)).map(_._2).sum, "s")
    oracleSection()
    recordSpans()
  }
}

object Sweep {
  /** the leaves reported one by one in the traced run */
  val named: Seq[String] = Seq("q_ari", "q_swoosh", "q_pipeline_clusters", "q_retract_clusters",
    "q_blocking_scheme", "q_blocking_recall", "q_pprl", "q_er_f1_sampled", "q_ann_ivf",
    "q_lsh_empirical", "q_prefix_join", "q_simhash", "q_soundex_blocks")

  /** The timed query set, about 4 s a pass at 400 docs on 4 cores: a
    * relational aggregate, a window dedup, a Hamming join the plan rule
    * rewrites, two string joins sharing one session memo (the first pays
    * for it), and the two fixed-cost leaves `spread()` once slowed. The heavy
    * named leaves run only in the traced pass.
    */
  val queries: Seq[String] = Seq("q1_agg", "q_exact_dedup", "q_hamming_pairs", "q_jw_pairs",
    "q_lev_pairs", "q_simhash", "q_soundex_blocks")

  /** the traced pass: the timed set plus every named leaf */
  val traced: Seq[String] = (queries ++ named).distinct.sorted
}

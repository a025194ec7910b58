package perfbench

import org.apache.spark.sql.SparkSession

import graft._

/** The declared-query library in-process: a fixed subset of the keys of
  * `SparkEntry.queries`, at least one per module and several from the
  * snapshot and grid families, each run with `.count()` (the action
  * `graft.Bench` times), once per pass in a seeded order. The timed run makes
  * whole passes until the window closes; the traced run makes one pass.
  *
  * A pass over all 294 queries takes about 110 s warm at sf0.001 on a 4-core
  * box, more than a benchmark run may take; the subset's pass takes about 5 s.
  */
object QuerySuite {
  /** The modules `SparkEntry` aggregates, by name. */
  val Modules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> operators.Relational,
    "Aggregates" -> operators.Aggregates,
    "WindowOps" -> operators.WindowOps,
    "Scalars" -> operators.Scalars,
    "TextAnalysis" -> text.TextAnalysis,
    "Privacy" -> text.Privacy,
    "Monitoring" -> text.Monitoring,
    "Dedup" -> dedup.Dedup,
    "EntityResolution" -> dedup.EntityResolution,
    "Similarity" -> similarity.Similarity,
    "Pca" -> similarity.Pca,
    "Behavioral" -> analytics.Behavioral,
    "Probe" -> analytics.Probe,
    "Streaming" -> streaming.Streaming,
    "GridQueries" -> domain.GridQueries,
    "Multimodal" -> multimodal.Multimodal,
    "SourceQueries" -> sources.SourceQueries,
    "GraphQueries" -> graph.GraphQueries)

  /** Query name → module name. Fails loudly unless the modules cover exactly
    * the keys of `SparkEntry.queries`, each once.
    */
  def moduleOf(): Map[String, String] = {
    val pairs = Modules.flatMap { case (m, q) => q.queries.keys.map(_ -> m) }
    val dup = pairs.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }
    require(dup.isEmpty, s"queries declared by two modules: ${dup.mkString(", ")}")
    val declared = SparkEntry.queries.keySet
    val listed = pairs.map(_._1).toSet
    require(listed == declared,
      s"module list out of date: missing ${(declared -- listed).mkString(", ")}; " +
        s"extra ${(listed -- declared).mkString(", ")}")
    pairs.toMap
  }

  /** The queries a pass runs: one of the cheapest of each module, plus two
    * snapshot-table queries over one fixture (time travel and the change
    * feed), and grid queries over the served path's select and the NetCDF-4
    * reader.
    */
  val Subset: Seq[String] = Seq(
    "q_snapshot_changes", "q_time_travel", // Relational
    "q1_pricing", // Aggregates
    "q_window_rank", // WindowOps
    "q_strfuncs", // Scalars
    "q_char_ratios", // TextAnalysis
    "q_dp_release", // Privacy
    "q_ab_test", // Monitoring
    "q_dedup_exact", // Dedup
    "q_er_pairs", // EntityResolution
    "q_embed_quantize", // Similarity
    "q_embed_gram", // Pca
    "q_survival", // Behavioral
    "q_probe_train", // Probe
    "q_tumble", // Streaming
    "q_grid_catalog", "q_grid_select", // GridQueries
    "q_mm_meta", // Multimodal
    "q_grid_nc4", // SourceQueries
    "q_bfs_hops") // GraphQueries

  def run(spark: SparkSession, sfDir: String, seed: Long, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    require(new java.io.File(sfDir, "lineitem.parquet").exists,
      s"$sfDir holds no lineitem.parquet")
    val module = moduleOf()
    val uncovered = Modules.map(_._1).toSet -- Subset.map(module)
    require(uncovered.isEmpty, s"the subset runs no query of ${uncovered.mkString(", ")}")
    val names = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(Subset.toVector)
    val t0 = System.nanoTime()
    SuiteLayouts.prepare(spark, sfDir)
    val t1 = System.nanoTime()
    // one untimed pass: the private snapshot fixtures, JIT, codegen and
    // every query's lazily built state
    val warmErrors = names.flatMap(n => scala.util.Try(SparkEntry.queries(n)(spark, sfDir).count())
      .failed.toOption.map(e => s"$n: warm-up failed: $e"))
    val t2 = System.nanoTime()
    require(warmErrors.isEmpty, warmErrors.take(5).mkString("; "))
    val setup = Map("layout_prep_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)
    // one client thread runs every op, so plain collections suffice
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def count(name: String): Boolean =
      try {
        val c = SparkEntry.queries(name)(spark, sfDir).count()
        counts.get(name).filter(_ != c).foreach(p => errors += s"$name: count $c after $p")
        counts(name) = c
        true
      } catch { case e: Exception => errors += s"$name: $e"; false }
    val base = Map("clients" -> 1, "setup" -> setup, "module_of" -> module, "subset" -> Subset,
      "order" -> names)
    if (!trace) {
      // whole passes, so every run's samples hold each query equally often
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val passes = scala.collection.mutable.ArrayBuffer.empty[Main.Loop]
      while (passes.isEmpty || System.nanoTime() < deadline)
        passes += Main.closedLoop(1, 1e9, names.length)(i => count(names(i)))
      val liveHeap = Env.liveHeapMb()
      base ++ Map(
        "window_s" -> passes.map(_.windowS).sum,
        "samples" -> passes.flatMap(Main.sampleRows(_)),
        "counts" -> counts.toMap,
        "errors" -> (passes.flatMap(_.thrown) ++ errors).take(20),
        "live_heap_mb" -> liveHeap)
    } else {
      val tracer = new Tracer(spark)
      tracer.start()
      val sc = spark.sparkContext
      val meta = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]
      val loop = Main.closedLoop(1, 1e9, names.length) { i =>
        val name = names(i)
        val op = s"query_suite-$seed-$i"
        def timed(f: => Boolean): (Boolean, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
        }
        lazy val untraced = timed(count(name))
        lazy val traced = timed {
          sc.setJobGroup(op, name)
          try tracer.span(name, op)(_ => count(name)) finally sc.clearJobGroup()
        }
        // the second run of a query reuses what the first built; alternate
        if (i % 2 == 0) { untraced; traced } else { traced; untraced }
        meta.put(i, Map("op" -> op, "query" -> name, "module" -> module(name),
          "untraced_ms" -> untraced._2, "traced_ms" -> traced._2))
        untraced._1 && traced._1
      }
      tracer.stop()
      base ++ Map(
        "window_s" -> loop.windowS,
        "samples" -> Main.sampleRows(loop),
        "counts" -> counts.toMap,
        "errors" -> (loop.thrown ++ errors).take(20),
        "ops" -> loop.samples.flatMap { case (i, _) => Option(meta.get(i)) },
        "cores" -> sc.defaultParallelism) ++ Trace.dump(tracer)
    }
  }

}

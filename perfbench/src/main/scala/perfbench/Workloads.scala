package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.corpus.{ClosedFormGraph, ClosedFormTriples, CorpusGen}
import graft.graphout.{GraphBuilder, Verifier}
import graft.graphout.GraphBuilder.Graph
import graft.link.ConnectedComponents
import graft.pipeline.{CheckpointedPipeline, KgPipeline}
import graft.query.GraphQueryOps
import graft.reason.Reasoning
import graft.runtime.{Checkpoint, Observed}

/** What one run records. Timed operations carry their check outcome, so a
  * wrong answer counts as a failed operation.
  */
final class Record {
  var operations = 0
  val failures = ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var checks = 0

  def op(name: String, error: Option[String]): Unit = {
    operations += 1
    error.foreach(e => failures += s"$name: $e")
  }

  /** A run-level output check: counted as attempted, and as failed if wrong. */
  def check(name: String, error: Option[String]): Unit = {
    checks += 1
    error.foreach(e => failures += s"check $name: $e")
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  def attempted: Int = operations + checks
  def failed: Int = failures.size
}

object Timing {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val x = body
    (x, (System.nanoTime() - t0) / 1e9)
  }

  /** Times one operation. An exception counts the operation as failed
    * under `name` and gives None, so the run goes on to report it.
    */
  def attempt[T](rec: Record, name: String)(body: => T): Option[(T, Double)] =
    try Some(timed(body))
    catch { case NonFatal(e) => rec.op(name, Some(threw(e))); None }

  def threw(e: Throwable): String = s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Runs `check` outside the timing; an exception counts as a failure. */
  def safely(what: String)(check: => Option[String]): Option[String] =
    try check catch { case NonFatal(e) => Some(s"$what ${threw(e)}") }
}

/** A closed-loop workload: one client, one operation at a time. */
trait Workload {
  /** Set-up that later operations need; repeatable (the run times each repetition). */
  def setup(): Unit
  /** One closed-loop cycle of timed operations. */
  def cycle(rec: Record, tr: Tracer): Unit
  /** Traced runs only: extra layer measurements after the loop. */
  def traced(rec: Record, tr: Tracer): Unit = ()
  /** Run-level output checks, outside the timed loop. */
  def checks(rec: Record): Unit = ()
}

object Workload {
  def triples(df: DataFrame): Set[Checks.T3] =
    df.select("subjName", "relType", "objName").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** (rows, order-independent hash) of a triple set, in one job. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(col("subjName"), col("relType"),
      col("objName")).cast("decimal(38,0)")), lit(0)).cast("string")).head()
    (r.getLong(0), BigInt(r.getString(1)).longValue)
  }

  def stats(g: Graph): Set[(String, Double)] =
    GraphBuilder.stats(g).collect().map(r => (r.getString(0), r.getDouble(1))).toSet

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }
}

/** In-memory `KgPipeline.runStaged` on a generated corpus. Traced runs
  * also make one checkpointed build and resume of the same corpus, and one
  * pass of graph operator calls over its graph.
  */
final class BuildWorkload(spark: SparkSession, files: Long, seed: Long, work: Path)
    extends Workload {
  lazy val expected: Set[Checks.T3] = ClosedFormTriples.canonicalizedExpectedSet(files, seed)
  lazy val expectedStats: Set[(String, Double)] = ClosedFormGraph.expectedStats(files, seed)
  private var lastSet: Set[Checks.T3] = Set.empty
  private var checkedDigest: Option[(Long, Long)] = None

  def setup(): Unit = CorpusGen.generate(spark, files, seed).count()

  def cycle(rec: Record, tr: Tracer): Unit = {
    val startMs = System.currentTimeMillis()
    if (tr.enabled) Observed.clear("cc_iterations")
    Timing.attempt(rec, "build")(tr.span("build") {
      KgPipeline.runStaged(spark, CorpusGen.generate(spark, files, seed))
    }).foreach { case (st, wall) =>
      rec.op("build", Timing.safely("build check")(check(st.result)))
      rec.sample("build_s", wall)
      rec.sample("triples", st.tripleCount.toDouble)
      if (tr.enabled) layers(rec, tr, st, startMs)
    }
    spark.catalog.clearCache()
  }

  /** The first build's triple set is checked in full (P/R against the
    * closed form); later builds must reproduce its count and digest. Every
    * build's graph stats must equal the closed form.
    */
  private def check(r: KgPipeline.Result): Option[String] = {
    val d = Workload.digest(r.tripleSet)
    val triples =
      if (checkedDigest.isEmpty) {
        lastSet = Workload.triples(r.tripleSet)
        val err = Checks.tripleSet(lastSet, expected)
        if (err.isEmpty) checkedDigest = Some(d)
        err
      } else if (checkedDigest.contains(d)) None
      else Some(s"triple set (count, digest) $d differs from the checked build's ${checkedDigest.get}")
    triples.orElse(Checks.graphStats(Workload.stats(r.graph), expectedStats))
  }

  /** Per-stage figures: the pipeline's own stage laps, with the listener's
    * jobs, CPU and shuffle attributed to each lap's wall-clock window.
    */
  private def layers(rec: Record, tr: Tracer, st: KgPipeline.Staged, startMs: Long): Unit = {
    var t = startMs.toDouble
    st.stageSec.foreach { case (stage, sec) =>
      tr.addInterval(s"build.$stage", "build", t.toLong, (t + sec * 1000).toLong, sec)
      t += sec * 1000
    }
    val module = Map("extract_dedup" -> "extract", "link_cc" -> "link",
      "merge_build" -> "graphout", "triple_set" -> "pipeline")
    st.stageSec.foreach { case (stage, _) =>
      tr.last(s"build.$stage").foreach { s =>
        val p = s"${module.getOrElse(stage, "pipeline")}.$stage"
        rec.layer(s"$p.wall_s") = s.wallS
        rec.layer(s"$p.cpu_s") = s.counters.cpuS
        rec.layer(s"$p.jobs") = s.counters.jobs.toDouble
        rec.layer(s"$p.shuffle_mb") = s.counters.shuffleMb
        rec.layer(s"$p.spill_mb") = s.counters.spillMb
      }
    }
    val r = st.result
    val mentions = r.mentions.count().toDouble
    val canonical = r.canonicalEntities.count().toDouble
    rec.layer("extract.mentions_per_canonical") = mentions / math.max(1.0, canonical)
    val raw = graft.extract.Extractor.extract(r.segments)._2.count().toDouble
    rec.layer("graphout.edges_per_raw_triple") = r.graph.edges.count() / math.max(1.0, raw)
    val obs = tr.last("build").map(_.observed).getOrElse(Map.empty)
    // cleared before the build: 0 when the linker's components took the
    // driver union-find
    rec.layer("link.cc_iterations") = obs.getOrElse("cc_iterations.rounds", 0L).toDouble
    rec.layer("link.block_cap_drops") =
      obs.filter(_._1.startsWith("linker_block_cap.")).values.sum.toDouble
  }

  /** The checkpointed composition of the same corpus must give the same
    * triples; the graph calls are checked against their driver paths.
    */
  override def traced(rec: Record, tr: Tracer): Unit = {
    new CheckpointRun(spark, files, seed, work).run(rec, tr).foreach { ckpt =>
      rec.check("in-memory vs checkpointed triple set", Timing.safely("triple sets") {
        Checks.sameRows("in-memory vs checkpointed triple set",
          lastSet.toSeq.map(_.toString), ckpt.toSeq.map(_.toString))
      })
    }
    val graph = new GraphQueries(spark, files, seed)
    graph.setup()
    graph.cycle(rec, tr)
    graph.checks(rec)
    spark.catalog.clearCache()
  }
}

/** `CheckpointedPipeline.run` into a fresh root, then a resume after the
  * last three committed stages are removed (the `runtime.ckpt` and
  * `runtime.resume` layers).
  */
final class CheckpointRun(spark: SparkSession, files: Long, seed: Long, work: Path) {
  val Dropped = Seq("07_edges", "07_edges_bydst", "08_triple_set")
  val Stages = Seq("00_corpus", "01_segments", "02_extracted", "04_canonical_mentions",
    "05_nodes", "07_edges", "07_edges_bydst", "08_triple_set")
  lazy val expected: Set[Checks.T3] = ClosedFormTriples.canonicalizedExpectedSet(files, seed)

  /** @return the fresh build's triple set, None if the build threw */
  def run(rec: Record, tr: Tracer): Option[Set[Checks.T3]] = {
    val root = work.resolve("ckpt")
    Checkpoint.deleteRecursively(root)
    try Timing.attempt(rec, "ckpt_build")(tr.span("ckpt_build") {
      CheckpointedPipeline.run(spark, root.toString, files, seed)
    }).map { case (fresh, buildS) => checkAndResume(rec, tr, root, fresh, buildS) }
    finally Checkpoint.deleteRecursively(root)
  }

  private def checkAndResume(rec: Record, tr: Tracer, root: Path, fresh: DataFrame,
                             buildS: Double): Set[Checks.T3] = {
    val cp = root.toString
    val freshSet = Workload.triples(fresh)
    rec.op("ckpt_build", Timing.safely("ckpt check")(Checks.tripleSet(freshSet, expected)))
    rec.layer("runtime.ckpt.build_s") = buildS
    rec.layer("runtime.ckpt.bytes_per_triple") = Workload.dirBytes(root) / math.max(1.0, freshSet.size)
    val walls = manifestWalls(cp)
    Stages.foreach { st =>
      rec.layer(s"runtime.ckpt.$st.wall_s") = walls.getOrElse(st, 0.0)
      rec.layer(s"runtime.ckpt.$st.mb") = Workload.dirBytes(root.resolve(st)) / 1e6
    }
    tr.last("ckpt_build").foreach { s =>
      rec.layer("runtime.ckpt.cpu_s") = s.counters.cpuS
      rec.layer("runtime.ckpt.jobs") = s.counters.jobs.toDouble
      rec.layer("runtime.ckpt.shuffle_mb") = s.counters.shuffleMb
      rec.layer("runtime.ckpt.spill_mb") = s.counters.spillMb
    }

    Dropped.foreach(s => Checkpoint.deleteRecursively(root.resolve(s)))
    val before = committed(root)
    Timing.attempt(rec, "resume")(tr.span("resume") {
      CheckpointedPipeline.run(spark, cp, files, seed)
    }).foreach { case (resumed, resumeS) =>
      rec.op("resume", Timing.safely("resume check") {
        Checks.sameRows("resumed vs fresh triple set",
          Workload.triples(resumed).toSeq.map(_.toString), freshSet.toSeq.map(_.toString))
      })
      rec.layer("runtime.resume.wall_s") = resumeS
      rec.layer("runtime.resume.stages_reused") = before.size.toDouble
      rec.layer("runtime.resume.stages_recomputed") = (committed(root) -- before).size.toDouble
      tr.last("resume").foreach { s =>
        rec.layer("runtime.resume.cpu_s") = s.counters.cpuS
        rec.layer("runtime.resume.jobs") = s.counters.jobs.toDouble
      }
    }
    freshSet
  }

  private def committed(root: Path): Set[String] =
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => Files.exists(p.resolve("_MANIFEST.json")))
          .map(_.getFileName.toString).toSet
      } finally s.close()
    }

  private val WallSec = "\"wallSec\":([0-9.eE+-]+)".r
  private val StageName = "\"stage\":\"([^\"]+)\"".r

  /** Stage → wall seconds, from the manifests the checkpoint commits. */
  private def manifestWalls(root: String): Map[String, Double] =
    new Checkpoint(spark, root).manifests().flatMap { m =>
      for (s <- StageName.findFirstMatchIn(m); w <- WallSec.findFirstMatchIn(m))
        yield s.group(1) -> w.group(1).toDouble
    }.toMap
}

/** A fixed mix of graph operator calls over a built graph. The iterative
  * operators are called with their public size limit at 0, so they take
  * the distributed loop that a graph above the driver limit takes
  * (connected components through `ConnectedComponents.run`, see `ccDistributed`);
  * `checks` compares each against the driver path.
  */
final class GraphQueries(spark: SparkSession, files: Long, seed: Long) {
  val Lookups = Seq("query.traverse", "query.find_path", "query.subgraph", "query.search",
    "query.confidence_filter", "query.topk_degree")
  val Analytics = Seq("query.cc", "query.pagerank", "reason.infer_transitive",
    "graphout.verify", "graphout.stats")
  val Distributed = 0L
  val Driver = Long.MaxValue
  val PagerankIterations = 5
  lazy val expectedStats: Set[(String, Double)] = ClosedFormGraph.expectedStats(files, seed)
  private val rng = new Random(seed)
  private var g: Graph = _
  private var nodeCount = 0L
  private var hubs: Array[(String, String)] = Array.empty
  /** The last pass's distributed results, for the driver-path cross-check. */
  private val last = mutable.Map.empty[String, Seq[String]]
  private var lastRanks = Map.empty[String, Double]
  private var lastEnds = ("", "")

  def setup(): Unit = {
    spark.catalog.clearCache()
    g = KgPipeline.runStaged(spark, CorpusGen.generate(spark, files, seed)).result.graph
    nodeCount = g.nodes.count()
    hubs = GraphQueryOps.topKByDegree(g, 40).collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("name")))
  }

  private def pick(): (String, String) = hubs(rng.nextInt(hubs.length))
  private def rows(xs: Array[org.apache.spark.sql.Row]): Seq[String] = xs.map(_.toString).toSeq

  def traverse(src: String, limit: Long): DataFrame =
    GraphQueryOps.traverse(g, src, maxDepth = 2, direction = "both", driverLimit = limit)

  def findPath(src: String, dst: String, limit: Long): DataFrame =
    GraphQueryOps.findPath(g, src, dst, maxDepth = 4, driverLimit = limit)

  private def pairs: DataFrame = g.edges.toDF().select(col("srcId").as("src"), col("dstId").as("dst"))

  /** Components of every node through the star loop: `ConnectedComponents.run`
    * with its driver threshold at 0, plus each node in no edge as its own
    * component (what `withIsolated` adds).
    */
  def ccDistributed(): DataFrame = {
    val cc = ConnectedComponents.run(pairs, driverThreshold = Distributed)
    val isolated = g.nodes.toDF().select(col("id"))
      .join(cc.select("id"), Seq("id"), "left_anti").withColumn("comp", col("id"))
    cc.union(isolated)
  }

  def ccDriver(): DataFrame =
    ConnectedComponents.withIsolated(pairs, g.nodes.toDF().select(col("id")),
      driverThreshold = Driver)

  /** `Verifier.verify`'s four checks with the iterative two at `limit`. */
  def verify(limit: Long): DataFrame =
    Verifier.cyclicDependencies(g, driverLimit = limit)
      .union(Verifier.danglingReferences(g))
      .union(Verifier.contradictoryRelationships(g))
      .union(Verifier.semanticContradictions(g, driverLimit = limit)).toDF()

  def pagerank(limit: Long): Map[String, Double] =
    GraphQueryOps.pagerank(g, iterations = PagerankIterations, driverLimit = limit).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** One pass of the eleven calls. */
  def cycle(rec: Record, tr: Tracer): Unit = {
    val (src, _) = pick()
    val (dst, dstName) = pick()
    val tau = 0.5 + rng.nextInt(5) * 0.1
    val ids = Seq.fill(5)(pick()._1).distinct
    lastEnds = (src, dst)
    var analytics = 0.0
    def call[T](name: String)(body: => T)(check: T => Option[String]): Unit =
      Timing.attempt(rec, name)(tr.span(name)(body)).foreach { case (out, wall) =>
        rec.op(name, Timing.safely(name)(check(out)))
        if (Lookups.contains(name)) rec.sample("lookup_s", wall) else analytics += wall
        if (tr.enabled) tr.last(name).foreach { s =>
          rec.layer(s"$name.wall_s") = s.wallS
          rec.layer(s"$name.jobs") = s.counters.jobs.toDouble
          rec.layer(s"$name.cpu_s") = s.counters.cpuS
        }
      }
    call("query.traverse")(traverse(src, Distributed).collect()) { out =>
      last("traverse") = rows(out)
      if (out.isEmpty) Some(s"no neighbours of hub $src")
      else out.find(r => { val d = r.getAs[Number]("depth").intValue; d < 1 || d > 2 })
        .map(r => s"row outside depth 1..2: $r")
    }
    call("query.find_path")(findPath(src, dst, Distributed).collect()) { out =>
      last("find_path") = rows(out)
      out.map(_.getSeq[String](0)).find(p => p.head != src || p.last != dst)
        .map(p => s"path $p does not join $src to $dst")
    }
    call("query.subgraph") {
      val sg = GraphQueryOps.getSubgraph(g, ids, includeNeighbors = true)
      (sg.nodes.select("id").collect().map(_.getString(0)).toSet, sg.edges.count())
    } { case (nodes, edges) =>
      if (!ids.forall(nodes.contains)) Some(s"subgraph lacks a requested id of $ids")
      else if (edges > 100) Some(s"subgraph kept $edges > 100 relationships") else None
    }
    call("query.search") {
      val r = GraphQueryOps.searchAll(g, java.util.regex.Pattern.quote(dstName))
      (r.entities.select("id").collect().map(_.getString(0)).toSet, r.relationships.count())
    } { case (hits, _) =>
      if (hits.contains(dst)) None else Some(s"search for '$dstName' missed $dst")
    }
    call("query.confidence_filter") {
      val f = GraphQueryOps.filterByConfidence(g, tau)
      (f, f.nodes.count(), f.edges.count())
    } { case (f, _, _) =>
      val low = f.nodes.where(col("confidence") < tau).count() +
        f.edges.where(col("confidence") < tau).count()
      if (low > 0) Some(s"$low nodes or edges under $tau kept") else None
    }
    call("query.topk_degree")(GraphQueryOps.topKByDegree(g, 10).collect()) { out =>
      val d = out.map(_.getAs[Long]("degree"))
      if (out.length != 10) Some(s"${out.length} rows, expected 10")
      else if (d.sliding(2).exists(p => p(0) < p(1))) Some("degrees not in descending order")
      else None
    }
    Observed.clear("cc_iterations")
    call("query.cc")(ccDistributed().collect()) { out =>
      last("cc") = rows(out)
      if (out.length == nodeCount) None else Some(s"${out.length} component rows for $nodeCount nodes")
    }
    call("query.pagerank")(pagerank(Distributed)) { ranks =>
      lastRanks = ranks
      val sum = ranks.values.sum
      if (ranks.size != nodeCount) Some(s"${ranks.size} ranks for $nodeCount nodes")
      else if (math.abs(sum - 1.0) > 1e-6) Some(s"ranks sum to $sum") else None
    }
    call("reason.infer_transitive")(Reasoning.inferTransitive(g).collect()) { out =>
      out.find(_.getAs[Double]("confidence") < 0.7).map(r => s"inferred under 0.7: $r")
    }
    call("graphout.verify")(verify(Distributed).collect()) { out =>
      last("verify") = rows(out)
      val bad = out.filterNot(r => Set("critical", "medium", "low")(r.getAs[String]("severity")))
      bad.headOption.map(r => s"issue with unknown severity: $r")
    }
    call("graphout.stats")(Workload.stats(g))(Checks.graphStats(_, expectedStats))
    rec.sample("analytics_s", analytics)
    if (tr.enabled) {
      rec.layer("query.pagerank.jobs_per_iter") =
        rec.layer.getOrElse("query.pagerank.jobs", 0.0) / PagerankIterations
      rec.layer("query.cc.iterations") = tr.last("query.cc")
        .flatMap(_.observed.get("cc_iterations.rounds")).getOrElse(0L).toDouble
      rec.layer("query.bfs_depth_cutoffs") = Observed.get("bfs_depth_cutoff")
        .map(_.values.sum).getOrElse(0L).toDouble
    }
  }

  /** The last pass's iterative results against the driver path, called
    * with its public limit raised.
    */
  def checks(rec: Record): Unit = {
    val (src, dst) = lastEnds
    def against(what: String, distributed: String)(driver: => Seq[String]): Unit =
      rec.check(what, Timing.safely(what)(Checks.sameRows(what, last(distributed), driver)))
    against(s"traverse from $src: distributed vs driver", "traverse")(
      rows(traverse(src, Driver).collect()))
    against(s"find_path $src -> $dst: distributed vs driver", "find_path")(
      rows(findPath(src, dst, Driver).collect()))
    against("connected components: distributed vs driver", "cc")(rows(ccDriver().collect()))
    against("verify: distributed vs driver", "verify")(rows(verify(Driver).collect()))
    rec.check("pagerank: distributed vs driver", Timing.safely("pagerank") {
      Checks.sameRanks("pagerank", lastRanks, pagerank(Driver))
    })
  }
}

/** Twelve catalog entries on the operators the roadmap targets (see
  * README.md), once per pass over the sf0.001 tables, in an order drawn
  * from the seed. Each entry is timed to its collected rows; the first
  * pass writes those rows (after the timing) for the DuckDB oracle check,
  * and later passes must reproduce each entry's row count.
  */
final class CatalogWorkload(spark: SparkSession, dir: String, seed: Long, work: Path)
    extends Workload {
  val Ops = Seq("q24_minhash_dedup", "q25_simhash_dedup", "q27_embed_neardup_lsh", "q28_ann_ivf")
  val Query = Seq("q19_traverse_incoming", "q20_find_path", "q39_connected_components",
    "q46_pagerank")
  val Reason = Seq("q21_infer_transitive")
  val Graphout = Seq("q23_cycle_check", "kg_stats_full")
  val Sql = Seq("q06_self_join_pairs")
  val entries: Seq[(String, graft.Queries.Q)] =
    (Ops ++ Query ++ Reason ++ Graphout ++ Sql).sorted.map(q => q -> graft.SparkEntry.queries(q))
  /** The module of the operator each entry calls. */
  val Module: Map[String, String] = Seq("ops" -> Ops, "query" -> Query, "reason" -> Reason,
    "graphout" -> Graphout, "sql" -> Sql).flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
  val Modules = Seq("sql", "ops", "query", "reason", "graphout")
  val Named = Seq("q24_minhash_dedup", "q25_simhash_dedup", "q27_embed_neardup_lsh",
    "q28_ann_ivf", "q06_self_join_pairs")
  /** The tables the entries read. */
  val Tables = Seq("region", "nation", "customer", "lineitem", "documents", "embeddings")
  private val rng = new Random(seed)
  private val expectedRows = mutable.Map.empty[String, Long]
  val outDir: Path = work.resolve("catalog_out")

  /** Reads each input table once (its footer and rows). */
  def setup(): Unit = Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())

  /** The first pass's rows, one parquet directory per entry, plus the
    * oracle SQL, for the DuckDB check after the run. Written after the
    * pass, several entries at a time.
    */
  private def writeResults(rec: Record,
                           results: Seq[(String, Array[org.apache.spark.sql.Row], StructType)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val futures = results.map { case (q, rows, schema) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
              .write.mode("overwrite").parquet(outDir.resolve(q).toString)
        })
      }
      results.zip(futures).foreach { case ((q, _, _), f) =>
        rec.check(s"$q rows written", Timing.safely(s"$q write") { f.get(); None })
      }
    } finally pool.shutdown()
    results.foreach { case (q, rows, _) => expectedRows(q) = rows.length }
    val sf = sys.props("graft.sf.name")
    val oracles = graft.SparkEntry.oracleSql.filter(e => expectedRows.contains(e._1)) --
      graft.Queries.sfPinnedOracles.filterNot(_._2.contains(sf)).keySet
    Files.writeString(outDir.resolve("oracle_sql.json"), Json(oracles))
  }


  def cycle(rec: Record, tr: Tracer): Unit = {
    val first = expectedRows.isEmpty
    val perModule = mutable.Map.empty[String, Array[Double]]
    val results = ArrayBuffer.empty[(String, Array[org.apache.spark.sql.Row], StructType)]
    var pass = 0.0
    var threw = false
    rng.shuffle(entries).foreach { case (q, fn) =>
      Timing.attempt(rec, s"catalog.$q")(tr.span(s"catalog.$q") {
        val df = fn(spark, dir)
        (df.collect(), df.schema)
      }) match {
        case None => threw = true
        case Some(((rows, schema), wall)) =>
          pass += wall
          if (first) results += ((q, rows, schema))
          rec.op(s"catalog.$q",
            if (first || rows.length == expectedRows(q)) None
            else Some(s"${rows.length} rows, the checked pass had ${expectedRows(q)}"))
          rec.sample("entry_s", wall)
          if (tr.enabled) tr.last(s"catalog.$q").foreach { s =>
            val m = perModule.getOrElseUpdate(Module(q), Array(0.0, 0.0, 0.0))
            m(0) += s.wallS; m(1) += s.counters.jobs; m(2) += s.counters.cpuS
            if (Named.contains(q)) {
              rec.layer(s"catalog.$q.wall_s") = s.wallS
              rec.layer(s"catalog.$q.jobs") = s.counters.jobs.toDouble
            }
          }
      }
    }
    if (first) writeResults(rec, results.toSeq)
    // a pass with an entry that threw is not a whole pass
    if (!threw) rec.sample("catalog_pass_s", pass)
    if (tr.enabled) Modules.foreach { m =>
      val v = perModule.getOrElse(m, Array(0.0, 0.0, 0.0))
      rec.layer(s"catalog.$m.wall_s") = v(0)
      rec.layer(s"catalog.$m.jobs") = v(1)
      rec.layer(s"catalog.$m.cpu_s") = v(2)
    }
  }
}

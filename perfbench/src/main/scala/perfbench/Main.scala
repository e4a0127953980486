package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.{Chas, GraphOps, Layout, Pipeline, Serving}
import graft.io.{CytoscapeJson, MetadataJson, Readers}

/** The benchmark's JVM side: one workload per run, in one local Spark
  * session. Usage (normally through run.py):
  * {{{
  * perfbench.Main --workload dataset_build|search_served|feature_upload
  *   --seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE]
  * }}}
  * Prints one JSON result as the last line of standard output. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, traceOut: Option[String])

  /** A run's raw figures: per measured op latency (ms) and process CPU
    * (s); check failures; setup seconds. */
  final class Run {
    val latMs = ArrayBuffer.empty[Double]
    var cpuS = 0.0
    var attempted = 0
    var failed = 0
    var wrong = 0
    var setupS = 0.0
    val problems = ArrayBuffer.empty[String]
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def now(): Long = System.nanoTime()

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "20").toInt,
      m.getOrElse("trace", "0") == "1", m("work"), m.get("trace-out"))
  }

  /** Measured-op counts for a run of `seconds`: whole rounds of the
    * workload's operation pattern, fixed by `seconds` alone so every run
    * of a given length repeats the same operations. */
  def plan(workload: String, seconds: Int): (Int, Int) = workload match {
    case "dataset_build" => (0, math.max(1, seconds / 15))        // (warm-up, measured)
    case "search_served" => (3, QueryMix.size * math.max(1, seconds / 15))
    case "feature_upload" => (1, Gen.UploadFormats.size * math.max(1, seconds / 15))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val (warm, n) = plan(o.workload, o.seconds)
    val nCellTypes = if (o.workload == "dataset_build") warm + n else 1
    val g0 = now()
    val ds = Gen.dataset(s"${o.work}/inputs", o.seed, nCellTypes)
    val uploads = if (o.workload == "feature_upload")
      (0 until warm + n).map(k => Gen.upload(ds, s"${o.work}/inputs/uploads", o.seed, k)) else Nil
    System.err.println(f"[perfbench] inputs generated in ${(now() - g0) / 1e9}%.2f s")
    val run = new Run
    val t0 = now()
    val spark = session(o.work)
    val sessionS = (now() - t0) / 1e9
    val trace = new Trace(spark, o.trace)
    try {
      o.workload match {
        case "dataset_build" => new DatasetBuild(spark, trace, ds, o, run).run(n)
        case "search_served" => new SearchServed(spark, trace, ds, o, run).run(warm, n)
        case "feature_upload" => new FeatureUpload(spark, trace, ds, uploads, o, run).run(warm, n)
      }
      run.setupS += sessionS
      val rssMb = peakRssMb()
      o.traceOut.foreach(trace.writeTo)
      run.problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
      val e2e = endToEnd(run, rssMb)
      System.err.println("[perfbench] end-to-end " + e2e.map { case (k, (v, u)) => s"$k=$v$u" }.mkString(" "))
      val metrics = if (o.trace) perLayer(trace) else e2e
      println(resultJson(run, metrics))
    } finally spark.stop()
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def endToEnd(r: Run, rssMb: Double): Seq[(String, (Double, String))] = {
    val ok = math.max(1, r.latMs.size)
    Seq(
      "setup_s" -> (r.setupS, "s"),
      "op_p50_ms" -> (median(r.latMs), "ms"),
      "ops_per_s" -> (r.latMs.size / (r.latMs.sum / 1000.0), "1/s"),
      "cpu_s_per_op" -> (r.cpuS / ok, "s"),
      "peak_rss_mb" -> (rssMb, "MB"))
  }

  /** The per-layer metric names, in the order they are reported. */
  val LayerStems: Seq[String] = Seq("Readers.load", "Interactions.edges", "Annotate.nodes",
    "GraphOps.components", "GraphOps.diameter", "GraphOps.transitivity", "GraphOps.metadata",
    "Metadata", "Chas.features_metadata", "CytoscapeJson.tree_docs", "Pipeline.tree",
    "Serving.snapshot_build", "Serving.open", "Serving.search", "CytoscapeJson.render",
    "Layout.cose", "Readers.feature_file", "Chas.aggregate", "MetadataJson.features")
  /** The tree's passes as the traced decomposition runs them one at a
    * time; Σ of their times over the tree's own time is its overlap. */
  val TreeLanes: Seq[String] = Seq("GraphOps.components", "GraphOps.diameter",
    "GraphOps.transitivity", "GraphOps.metadata", "Metadata", "Chas.features_metadata",
    "CytoscapeJson.tree_docs")

  def timeName(stem: String): String = if (stem == "Metadata") "Metadata.ms" else s"${stem}_ms"

  /** Per-layer figures from the recorded spans: for each layer the median
    * over measured ops (or the set-up call, for set-up layers) of its
    * time, jobs and compiles; per-op Spark/JVM counters from the `op`
    * spans. Layers a workload does not call read 0. */
  def perLayer(t: Trace): Seq[(String, (Double, String))] = {
    val spans = t.all
    def perGroup(stem: String): Seq[Seq[Span]] = {
      val ss = spans.filter(_.name == stem)
      val measured = ss.filter(_.op >= 0)
      (if (measured.nonEmpty) measured else ss.filter(_.op == SetupOp)).groupBy(_.op).values.toSeq
    }
    val layers = LayerStems.flatMap { stem =>
      val g = perGroup(stem)
      Seq(timeName(stem) -> (median(g.map(_.map(_.ms).sum)), "ms"),
        s"$stem.jobs" -> (median(g.map(_.map(_.delta.jobs.toDouble).sum)), "count"),
        s"$stem.compiles" -> (median(g.map(_.map(_.delta.compiles.toDouble).sum)), "count"))
    }
    val lane = layers.toMap
    val tree = lane("Pipeline.tree_ms")._1
    val overlap = if (tree == 0) 0.0 else TreeLanes.map(s => lane(timeName(s))._1).sum / tree
    val ops = spans.filter(s => s.name == "op" && s.op >= 0)
    def perOp(f: Counters => Double) = median(ops.map(s => f(s.delta)))
    layers ++ Seq(
      "Pipeline.overlap" -> (overlap, "ratio"),
      "spark.jobs" -> (perOp(_.jobs.toDouble), "count"),
      "spark.tasks" -> (perOp(_.tasks.toDouble), "count"),
      "spark.shuffle_write_mb" -> (perOp(_.shuffleWriteBytes / 1e6), "MB"),
      "spark.spill_mb" -> (perOp(_.spillBytes / 1e6), "MB"),
      "spark.executor_cpu_s" -> (perOp(_.executorCpuNs / 1e9), "s"),
      "codegen.compiles" -> (perOp(_.compiles.toDouble), "count"),
      "codegen.compile_ms" -> (perOp(_.compileMs), "ms"),
      "jvm.gc_ms" -> (perOp(_.gcMs.toDouble), "ms"))
  }

  def resultJson(r: Run, metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k": {"value": $num, "unit": "$u"}""" }
    s"""{"correct": ${r.wrong == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** Op ids: measured ops count from 0, warm-ups and the set-up call are
    * negative so per-layer medians can tell them apart. */
  val WarmupOp: Int => Int = i => -1 - i
  val SetupOp: Int = -1000

  /** Times `body` as one measured op, with its process CPU; an exception
    * counts the op as failed. Returns whether it completed. */
  def measured(r: Run, t: Trace, op: Int)(body: => Unit): Boolean = {
    r.attempted += 1
    val c0 = cpuBean.getProcessCpuTime; val t0 = now()
    try {
      t.span("op", op)(body)
      r.latMs += (now() - t0) / 1e6
      r.cpuS += (cpuBean.getProcessCpuTime - c0) / 1e9
      System.err.println(f"[perfbench] op $op ${r.latMs.last}%.0f ms")
      true
    } catch {
      case e: Exception =>
        r.failed += 1
        System.err.println(s"[perfbench] op $op failed: $e")
        false
    }
  }

  def timedS(body: => Unit): Double = {
    val t0 = now(); body
    val s = (now() - t0) / 1e9
    System.err.println(f"[perfbench] set-up step $s%.2f s"); s
  }

  def deleteTree(p: String): Unit = {
    val root = Path.of(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  /** The search mix, one round: positions fixed, only the terms move
    * with the seed — six single names, a list, a fragment id, ranges
    * (plain, expanded, nearest) and a name matching nothing. The names
    * run back to back so the median lands among like requests; the
    * first name after the ranges pays for the classes they evicted. */
  val QueryMix: Seq[String] = Seq("gene", "gene", "gene", "gene", "gene", "gene",
    "list", "frag", "range", "range_expand", "nomatch", "range_nearest")
}

/** Shared set-up: the program's readers and dataset build for one cell
  * type. */
abstract class Workload(spark: SparkSession, trace: Trace, ds: Gen.Dataset) {
  def annotations(): Pipeline.Annotations = {
    val alias = Readers.loadAlias(spark, ds.aliasPath)
    Pipeline.Annotations(
      baitNames = Some(Readers.loadBaitNames(spark, ds.baitNamesPath)),
      aliasRanges = Some(alias.select("chr", "start", "end", "gene_name")),
      aliasNames = Some(alias),
      intronic = Some(Readers.loadIntronic(spark, ds.intronicPath)))
  }
  def build(ct: Int): Pipeline.BuiltDataset =
    Pipeline.build(Readers.loadPCHiC(spark, ds.pchicPath(ct)), Gen.Threshold, annotations())
  /** features_on_nodes as the long (fragment, feature, value) table. */
  def featuresLong(): DataFrame = {
    val wide = Readers.loadFeaturesOnNodes(spark, ds.featuresPath)
    wide.unpivot(Array(col("fragment")), wide.columns.tail.map(col), "feature", "value")
  }
}

/** dataset_build: one cell type per op, read → build → tree. */
final class DatasetBuild(spark: SparkSession, trace: Trace, ds: Gen.Dataset,
                         o: Main.Opts, r: Main.Run) extends Workload(spark, trace, ds) {
  def tree(ct: Int, out: String, op: Int): Unit = {
    val built = build(ct)
    trace.span("Pipeline.tree", op) {
      Pipeline.writeDatasetTree(built, out, features = Some(featuresLong()))
    }
  }

  /** Traced runs only: the passes writeDatasetTree composes, called one
    * at a time and each forced, for a clean time and count per pass. */
  def decompose(ct: Int, out: String, op: Int): Unit = {
    def span(name: String)(body: => Unit): Unit = trace.span(name, op)(body)
    span("Readers.load") {
      Readers.loadPCHiC(spark, ds.pchicPath(ct)).count()
      Readers.loadBaitNames(spark, ds.baitNamesPath).count()
      Readers.loadAlias(spark, ds.aliasPath).count()
      Readers.loadIntronic(spark, ds.intronicPath).count()
      Readers.loadFeaturesOnNodes(spark, ds.featuresPath).count()
    }
    val built = build(ct)
    val edges = built.edges.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = built.nodes.persist(StorageLevel.MEMORY_AND_DISK)
    val feats = featuresLong().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      span("Interactions.edges") { edges.count() }
      span("Annotate.nodes") { nodes.count() }
      feats.count()
      span("GraphOps.components") { GraphOps.componentStats(edges).collect() }
      span("GraphOps.diameter") { GraphOps.diameterCertified(edges).collect() }
      span("GraphOps.transitivity") { GraphOps.transitivity(edges).collect() }
      span("GraphOps.metadata") { built.graphMetadata.collect() }
      var chrs: Seq[String] = Nil
      span("Metadata") {
        built.suggestions.collect()
        chrs = built.chromosomes.collect().map(_.getString(0)).toSeq
      }
      span("Chas.features_metadata") { Chas.featuresMetadataSubnets(edges, feats, 3, 42L).collect() }
      Files.createDirectories(Path.of(s"$out/chromosomes"))
      span("CytoscapeJson.tree_docs") {
        CytoscapeJson.writeChromosomeDocuments(nodes, edges, chrs, s"$out/chromosomes",
          CytoscapeJson.InlineGridPositions())
      }
    } finally { edges.unpersist(); nodes.unpersist(); feats.unpersist() }
  }

  /** No warm-up: the measured builds start in a fresh JVM, as each
    * pipeline.sh job does. */
  def run(n: Int): Unit = {
    val w = o.work
    for (ct <- 0 until n) {
      val out = s"$w/tree_$ct"
      if (Main.measured(r, trace, ct)(tree(ct, out, ct))) {
        val bad = Check.tree(Model.of(ds, ct), ds.features, out)
        if (bad.nonEmpty) { r.wrong += 1; r.failed += 1; r.problems ++= bad }
      }
      if (trace.enabled) decompose(ct, s"$w/tree_d$ct", ct)
      Main.deleteTree(out); Main.deleteTree(s"$w/tree_d$ct")
    }
  }
}

/** search_served: a standing snapshot; each op is one request →
  * Serving.search → CytoscapeJson.render → Layout.cose. */
final class SearchServed(spark: SparkSession, trace: Trace, ds: Gen.Dataset,
                         o: Main.Opts, r: Main.Run) extends Workload(spark, trace, ds) {
  /** Seeded requests over the generator's own vocabulary: names drawn
    * with Zipf-like popularity, fragments and ranges from the dataset. */
  def queries(count: Int): Seq[Check.Query] = {
    val rnd = new Random(o.seed * 31L + 5)
    val names = rnd.shuffle(ds.genes.map(_.name).distinct)
    val cum = names.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    def name() = {
      val u = rnd.nextDouble() * cum.last
      names(math.min(names.size - 1, cum.search(u).insertionPoint))
    }
    val m = Model.of(ds, 0)
    val frags = ds.frags.filter(f => m.vertices.contains(f.id))
    val baits = ds.baits.filter(b => m.promoters.contains(b.id))
    def range() = {
      val b = baits(rnd.nextInt(baits.size)); val s = b.start + 100
      s"${b.chr}:$s-${s + 5000}"
    }
    (0 until count).map(i => Main.QueryMix(i % Main.QueryMix.size)).map {
      case "gene" => Check.Query("gene", name())
      case "list" => Check.Query("list", Seq.fill(2 + rnd.nextInt(2))(name()).mkString(if (rnd.nextBoolean()) "," else " "))
      case "frag" => Check.Query("frag", frags(rnd.nextInt(frags.size)).id)
      case "range" => Check.Query("range", range())
      case "range_expand" => Check.Query("range_expand", range(), expand = 20000L)
      case "range_nearest" => Check.Query("range_nearest", range(), nearest = true)
      case _ => Check.Query("nomatch", s"Zqx${rnd.nextInt(100000)}")
    }
  }

  def request(sd: Serving.ServedDataset, q: Check.Query, op: Int): (String, Seq[(String, Double, Double)]) = {
    val sub = trace.span("Serving.search", op) { Serving.search(sd, q.text, None, q.expand, q.nearest) }
    val doc = trace.span("CytoscapeJson.render", op) { CytoscapeJson.render(sub.nodes, sub.edges) }
    val pos = if (doc == "{}") Nil else trace.span("Layout.cose", op) {
      Layout.cose(sub.nodes.select(col("fragment").as("id")), sub.edges).collect().toSeq
        .map(p => (p.getAs[String]("id"), p.getAs[Any]("x").toString.toDouble,
          p.getAs[Any]("y").toString.toDouble))
    }
    (doc, pos)
  }

  def run(warm: Int, n: Int): Unit = {
    val qs = queries(warm + n)
    var sd: Serving.ServedDataset = null
    r.setupS += Main.timedS {
      val built = build(0)
      val dir = s"${o.work}/snapshot"
      trace.span("Serving.snapshot_build", Main.SetupOp) {
        Serving.buildSnapshot(built.nodes, built.edges, dir)
      }
      sd = trace.span("Serving.open", Main.SetupOp) { Serving.open(spark, dir) }
      for (i <- 0 until warm) request(sd, qs(i), Main.WarmupOp(i))
    }
    val out = new Array[(String, Seq[(String, Double, Double)])](n)
    for (i <- 0 until n)
      Main.measured(r, trace, i) { out(i) = request(sd, qs(warm + i), i) }
    // checks, after the measured window, against the snapshot's own rows
    val nodes = sd.nodes.collect().map { row =>
      def s(c: String) = Option(row.getAs[String](c)).getOrElse("")
      val id = row.getAs[String]("fragment")
      id -> Check.Node(id, Seq(s("gene_names"), s("alias")).filter(_.nonEmpty).mkString(" "),
        row.getAs[String]("chr"), row.getAs[Long]("start"), row.getAs[Long]("end"))
    }.toMap
    val edges = sd.edges.collect().map(e => (e.getAs[String]("src"), e.getAs[String]("dst"))).toSet
    val m = Model.of(ds, 0)
    if (edges != m.edges.keySet || nodes.keySet != m.vertices) {
      r.wrong += 1; r.problems += s"snapshot: ${edges.size} edges / ${nodes.size} nodes, " +
        s"expected ${m.edges.size} / ${m.vertices.size}"
    }
    val adj = m.adj
    for (i <- 0 until n if out(i) != null) {
      val bad = Check.response(qs(warm + i), out(i)._1, out(i)._2, nodes, edges, adj)
      if (bad.nonEmpty) { r.wrong += 1; r.failed += 1; r.problems ++= bad }
    }
  }
}

/** feature_upload: each op is one fresh upload against a standing
  * dataset: read → aggregate onto fragments → per-subnet statistics with
  * one randomization → features + features_metadata documents. */
final class FeatureUpload(spark: SparkSession, trace: Trace, ds: Gen.Dataset,
                          uploads: Seq[Gen.Upload], o: Main.Opts, r: Main.Run)
    extends Workload(spark, trace, ds) {
  def upload(nodes: DataFrame, edges: DataFrame, up: Gen.Upload, out: String, op: Int): Unit = {
    val long = trace.span("Readers.feature_file", op) {
      Readers.loadFeatureFile(spark, up.path, up.option, up.featureName).localCheckpoint(eager = true)
    }
    val agg = trace.span("Chas.aggregate", op) {
      Chas.aggregateOntoFragments(nodes.select("fragment", "chr", "start", "end"), long)
        .localCheckpoint(eager = true)
    }
    val stats = trace.span("Chas.features_metadata", op) {
      Chas.featuresMetadataSubnets(edges, agg, 1, o.seed).localCheckpoint(eager = true)
    }
    trace.span("MetadataJson.features", op) {
      Files.createDirectories(Path.of(out))
      MetadataJson.write(s"$out/features.json", MetadataJson.featuresJson(agg))
      MetadataJson.write(s"$out/features_metadata.json", MetadataJson.featuresMetadataJson(stats))
    }
  }

  def run(warm: Int, n: Int): Unit = {
    val built = build(0)
    val nodes = built.nodes.persist(StorageLevel.MEMORY_AND_DISK)
    val edges = built.edges.persist(StorageLevel.MEMORY_AND_DISK)
    val dir = s"${o.work}/dataset/uploads"
    r.setupS += Main.timedS {
      nodes.count(); edges.count()
      for (k <- 0 until warm) upload(nodes, edges, uploads(k), s"$dir/$k", Main.WarmupOp(k))
    }
    val m = Model.of(ds, 0)
    for (i <- 0 until n) {
      val up = uploads(warm + i); val out = s"$dir/${warm + i}"
      if (Main.measured(r, trace, i)(upload(nodes, edges, up, out, i))) {
        val bad = Check.upload(m, Check.uploadValues(m, ds.frags, up.intervals),
          s"$out/features.json", s"$out/features_metadata.json")
        if (bad.nonEmpty) { r.wrong += 1; r.failed += 1; r.problems ++= bad.map(b => s"${up.format}: $b") }
      }
    }
  }
}

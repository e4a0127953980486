package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The expected graph of one cell type, derived from the generator's own
  * rows with plain collections — never from the program. */
final case class Model(vertices: Set[String], promoters: Set[String],
                       edges: Map[(String, String), String]) {
  /** Undirected adjacency over the simplified edges. */
  lazy val adj: Map[String, Set[String]] = edges.keys.toSeq
    .flatMap { case (s, d) => Seq(s -> d, d -> s) }
    .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
}

object Model {
  def chrOf(id: String): String = id.substring(0, id.indexOf('_'))

  /** Threshold (strict >) and MT drop, then self-loops out and one row
    * per undirected pair: the first by (score, src, dst). A pair is P-P
    * when its kept target is itself the source of some kept edge. */
  def of(ds: Gen.Dataset, ct: Int): Model = {
    val working = ds.working(ct)
    val vertices = working.flatMap { case (r, _) => Seq(r.bait.id, r.oe.id) }.toSet
    val promoters = working.map(_._1.bait.id).toSet
    val kept = working
      .filter { case (r, _) => r.bait.id != r.oe.id }
      .map { case (r, s) => (s, r.bait.id, r.oe.id) }
      .groupBy { case (_, a, b) => if (a < b) (a, b) else (b, a) }
      .values.map(_.min).toSeq
    val srcs = kept.map(_._2).toSet
    Model(vertices, promoters, kept.map { case (_, s, d) =>
      (s, d) -> (if (srcs.contains(d)) "P-P" else "P-O") }.toMap)
  }
}

/** Output checks. Each returns the list of problems found (empty = the
  * output is correct). */
object Check {
  private val json = new ObjectMapper()
  def read(path: String): JsonNode = json.readTree(Files.readString(Path.of(path)))
  private def close(a: Double, b: Double, tol: Double): Boolean = math.abs(a - b) <= tol + 1e-9
  private def mean(xs: Iterable[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)

  /** A parsed Cytoscape document: node id -> data, edge (source, target)
    * -> data. "{}" parses as empty. */
  final case class Doc(nodes: Map[String, JsonNode], edges: Map[(String, String), JsonNode],
                       nodeCount: Int, edgeCount: Int)
  def parseDoc(text: String): Doc = {
    val root = json.readTree(text)
    if (root.isObject && root.size == 0) return Doc(Map.empty, Map.empty, 0, 0)
    val els = root.elements().asScala.toSeq
    val (ns, es) = els.partition(_.get("group").asText == "nodes")
    Doc(ns.map(n => n.get("data").get("id").asText -> n).toMap,
      es.map { e => val d = e.get("data"); (d.get("source").asText, d.get("target").asText) -> d }.toMap,
      ns.size, es.size)
  }

  // ------------------------------------------------------------------
  // dataset_build
  // ------------------------------------------------------------------

  /** metadata.json, chromosomes.json, every chr<c>.json and
    * features_metadata.json of one written tree. */
  def tree(m: Model, features: Map[String, Map[String, Double]], out: String): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val chrs = read(s"$out/chromosomes.json").elements().asScala.map(_.asText).toSeq
    // the PP pseudo-chromosome joins the list before the natural sort
    val expectChrs = (m.vertices.map(Model.chrOf).toSeq :+ "PP")
      .sortBy(c => c.toIntOption.map(i => f"0$i%09d").getOrElse("1" + c))
    if (chrs != expectChrs) bad += s"chromosomes.json: $chrs != $expectChrs"
    // per-chromosome documents: the edges touching c plus their endpoints
    val found = mutable.Map.empty[(String, String), String]
    for (c <- chrs) {
      val doc = parseDoc(Files.readString(Path.of(s"$out/chromosomes/chr$c.json")))
      val es = m.edges.filter { case ((s, d), _) => Model.chrOf(s) == c || Model.chrOf(d) == c }
      val ns = es.keys.flatMap { case (s, d) => Seq(s, d) }.toSet
      if (ns.size <= 1) {
        if (doc.nodeCount != 0) bad += s"chr$c.json: expected {}"
      } else {
        if (doc.nodeCount != ns.size || doc.nodes.keySet != ns)
          bad += s"chr$c.json: ${doc.nodeCount} nodes, expected ${ns.size}"
        if (doc.edgeCount != es.size || doc.edges.keySet != es.keySet)
          bad += s"chr$c.json: ${doc.edgeCount} edges, expected ${es.size}"
      }
      doc.edges.foreach { case (k, d) => found(k) = d.get("type").asText }
    }
    if (found.toMap != m.edges) {
      val missing = m.edges.keySet -- found.keySet
      val extra = found.keySet -- m.edges.keySet
      val retyped = m.edges.count { case (k, t) => found.get(k).exists(_ != t) }
      bad += s"tree edges: ${missing.size} missing, ${extra.size} extra, $retyped mistyped"
    }
    bad ++= metadata(m, read(s"$out/metadata.json"))
    bad ++= featuresMetadata(m, features, read(s"$out/features_metadata.json"), "tree")
    bad.toSeq
  }

  /** Expected metadata.json values. `diameter` is the lower bound: the
    * largest BFS eccentricity of one node per component; the true
    * diameter lies in [diameter, 2 x diameter]. */
  def expectedMetadata(m: Model): Map[String, Double] = {
    val pp = m.edges.count(_._2 == "P-P")
    // components by union-find over the edge endpoints
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    m.edges.keys.foreach { case (s, d) => parent(find(s)) = find(d) }
    val sizes = parent.keys.toSeq.groupBy(find).values.map(_.size)
    // transitivity: 3 x triangles / connected triples
    val adj = m.adj
    val ordered = adj.map { case (v, ns) => v -> ns.filter(_ > v) }
    val triangles = ordered.iterator.map { case (v, hi) =>
      hi.iterator.map(w => (ordered(w) intersect hi).size.toLong).sum }.sum
    val triads = adj.values.map(n => n.size.toLong * (n.size - 1) / 2).sum
    val seen = mutable.Set.empty[String]
    var ecc = 0L
    for (v <- adj.keys if !seen(v)) {
      val dist = mutable.Map(v -> 0L); val q = mutable.Queue(v); seen += v
      while (q.nonEmpty) {
        val u = q.dequeue()
        for (w <- adj(u) if !dist.contains(w)) { dist(w) = dist(u) + 1; seen += w; q += w }
      }
      ecc = math.max(ecc, dist.values.max)
    }
    Map[String, Double]("nodes" -> m.vertices.size, "edges" -> m.edges.size,
      "promoters" -> m.promoters.size, "other_ends" -> (m.vertices.size - m.promoters.size),
      "pp_edges" -> pp, "po_edges" -> (m.edges.size - pp),
      "interchromosomal" -> m.edges.keys.count { case (s, d) => Model.chrOf(s) != Model.chrOf(d) },
      "components" -> sizes.size, "max_component_pct" -> 100.0 * sizes.max / sizes.sum,
      "mean_degree" -> 2.0 * m.edges.size / m.vertices.size,
      "transitivity" -> (if (triads == 0) 0.0 else 3.0 * triangles / triads),
      "diameter" -> ecc.toDouble)
  }

  val CountFields = Seq("nodes", "edges", "promoters", "other_ends", "pp_edges", "po_edges",
    "interchromosomal", "components")

  def metadata(m: Model, md: JsonNode): Seq[String] = {
    val e = expectedMetadata(m)
    val bad = mutable.ArrayBuffer.empty[String]
    for (k <- CountFields if md.get(k).asLong != e(k).toLong)
      bad += s"metadata.$k = ${md.get(k)}, expected ${e(k).toLong}"
    val pct = md.get("max_component_pct").asText.stripSuffix("%").toDouble
    // display-rounded fields: 2 decimals
    for ((k, v) <- Seq("max_component_pct" -> pct, "mean_degree" -> md.get("mean_degree").asDouble,
        "transitivity" -> md.get("transitivity").asDouble) if !close(v, e(k), 0.005))
      bad += s"metadata.$k = $v, expected ${e(k)}"
    val diam = md.get("diameter").asLong
    if (diam < e("diameter") || diam > 2 * e("diameter"))
      bad += s"metadata.diameter = $diam outside [${e("diameter")}, ${2 * e("diameter")}]"
    bad.toSeq
  }

  val Subnets: Seq[(String, String => Boolean)] = Seq("net" -> (_ => true),
    "pp" -> (_ == "P-P"), "po" -> (_ == "P-O"))

  /** Expected (abundance, mean degree) per (feature, subnet): the mean
    * feature value over the subnet's nodes, and the mean subnet degree
    * over its feature-positive nodes (None where nothing qualifies). */
  def expectedSubnetStats(m: Model, features: Map[String, Map[String, Double]])
      : Map[(String, String), (Option[Double], Option[Double])] = {
    val featureNames = features.values.flatMap(_.keys).toSet
    Subnets.flatMap { case (sub, keep) =>
      val deg = mutable.Map.empty[String, Int].withDefaultValue(0)
      m.edges.foreach { case ((s, d), t) => if (keep(t)) { deg(s) += 1; deg(d) += 1 } }
      val subNodes = deg.keys.toSeq
      featureNames.map { f =>
        val vals = subNodes.flatMap(n => features.get(n).flatMap(_.get(f)))
        val positives = subNodes.filter(n => features.get(n).flatMap(_.get(f)).exists(_ != 0.0))
        (f, sub) -> (mean(vals), mean(positives.map(deg(_).toDouble)))
      }
    }.toMap
  }

  /** features_metadata.json: abundance and mean degree per subnet (net /
    * pp / po) as [[expectedSubnetStats]]; ChAs and the random interval
    * lie in [-1, 1] with min <= max. */
  def featuresMetadata(m: Model, features: Map[String, Map[String, Double]],
                       fm: JsonNode, what: String): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val expected = expectedSubnetStats(m, features)
    val featureNames = expected.keySet.map(_._1)
    if (fm.fieldNames().asScala.toSet != featureNames)
      bad += s"$what features_metadata features ${fm.fieldNames().asScala.toSet} != $featureNames"
    for (((f, sub), (ab, md)) <- expected) {
      Option(fm.get(f)).flatMap(x => Option(x.get(sub))) match {
        case None => bad += s"$what features_metadata $f/$sub missing"
        case Some(e) =>
          def num(k: String): Option[Double] =
            Option(e.get(k)).filterNot(_.isNull).map(_.asDouble)
          def same(got: Option[Double], want: Option[Double]) =
            (got.isEmpty && want.isEmpty) || got.zip(want).exists { case (a, b) => close(a, b, 0.005) }
          if (!same(num("Abundance"), ab)) bad += s"$what $f/$sub Abundance ${num("Abundance")} != $ab"
          if (!same(num("Mean degree"), md)) bad += s"$what $f/$sub Mean degree ${num("Mean degree")} != $md"
          num("ChAs").foreach(c => if (c < -1 || c > 1) bad += s"$what $f/$sub ChAs $c")
          Option(e.get("Random ChAs interval")).filterNot(_.isNull)
            .map(_.asText.split(",").map(_.toDouble)) match {
            case Some(Array(a, b)) if a >= -1 && b <= 1 && a <= b =>
            case other => bad += s"$what $f/$sub Random ChAs interval ${other.map(_.mkString(","))}"
          }
      }
    }
    bad.toSeq
  }

  // ------------------------------------------------------------------
  // feature_upload
  // ------------------------------------------------------------------

  /** Expected per-fragment values: the mean of the overlapping intervals
    * of each feature under inclusive coordinates, 0 where none overlaps. */
  def uploadValues(m: Model, frags: IndexedSeq[Gen.Frag],
                   ivs: Seq[Gen.Interval]): Map[String, Map[String, Double]] = {
    val byChr = frags.filter(f => m.vertices.contains(f.id)).groupBy(_.chr)
      .view.mapValues(_.sortBy(_.start)).toMap
    val sum = mutable.Map.empty[(String, String), (Double, Int)]
    for (iv <- ivs; fs <- byChr.get(iv.chr)) {
      // first fragment whose end >= iv.start, then scan while start <= iv.end
      var lo = 0; var hi = fs.size
      while (lo < hi) { val mid = (lo + hi) / 2; if (fs(mid).end < iv.start) lo = mid + 1 else hi = mid }
      var i = lo
      while (i < fs.size && fs(i).start <= iv.end) {
        val k = (fs(i).id, iv.feature)
        val (s, n) = sum.getOrElse(k, (0.0, 0)); sum(k) = (s + iv.value, n + 1)
        i += 1
      }
    }
    val feats = ivs.map(_.feature).distinct
    m.vertices.iterator.map { v =>
      v -> feats.map(f => f -> sum.get((v, f)).map { case (s, n) => s / n }.getOrElse(0.0)).toMap
    }.toMap
  }

  def upload(m: Model, expected: Map[String, Map[String, Double]],
             featuresJson: String, featuresMetadataJson: String): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val fj = read(featuresJson)
    val keys = fj.fieldNames().asScala.toSet
    if (keys != expected.keySet)
      bad += s"features.json: ${keys.size} fragments, expected ${expected.size}"
    var wrong = 0
    for ((frag, fs) <- expected; node <- Option(fj.get(frag)); (f, v) <- fs) {
      val got = Option(node.get(f)).filterNot(_.isNull).map(_.asDouble)
      if (!got.exists(close(_, v, 0.005))) wrong += 1
    }
    if (wrong > 0) bad += s"features.json: $wrong fragment values differ from the interval means"
    bad ++= featuresMetadata(m, expected, read(featuresMetadataJson), "upload")
    bad.toSeq
  }

  // ------------------------------------------------------------------
  // search_served
  // ------------------------------------------------------------------

  /** One request of the search mix. */
  final case class Query(kind: String, text: String, expand: Long = 0L,
                         nearest: Boolean = false)

  /** A served node as the snapshot holds it. */
  final case class Node(id: String, names: String, chr: String, start: Long, end: Long)

  /** Expected (seeds, node set, edge set) of a request over the
    * snapshot's nodes and edges, by the reference's rules: word-boundary
    * case-insensitive name match over gene names + aliases; exact
    * fragment id; range overlap (± expand) or nearest; ego expansion
    * for every form but the range. */
  def expectSearch(q: Query, nodes: Map[String, Node], edges: Set[(String, String)],
                   adj: Map[String, Set[String]]): (Set[String], Set[String], Set[(String, String)]) = {
    def nameMatch(terms: Seq[String]): Set[String] = {
      val re = ("\\b(" + terms.filter(_.nonEmpty)
        .map(t => java.util.regex.Pattern.quote(t.toLowerCase)).mkString("|") + ")\\b").r.unanchored
      nodes.values.filter(n => re.matches(n.names.toLowerCase)).map(_.id).toSet
    }
    val (seeds, ego) = q.kind match {
      case "frag" => (nodes.keySet.filter(_ == q.text.toUpperCase), true)
      case "list" => (nameMatch(q.text.split("[,\\t ]+").toSeq), true)
      case "range" | "range_expand" | "range_nearest" =>
        val Array(c, s, e) = q.text.split("[:\\-]")
        val (start, end) = (s.toLong, e.toLong)
        val onChr = nodes.values.filter(_.chr == c.toUpperCase)
        val overlap = onChr.filter(n => n.start <= end + q.expand &&
          n.end >= math.max(start - q.expand, 0L)).map(_.id).toSet
        if (!q.nearest && overlap.nonEmpty) (overlap, false)
        else {
          def dist(n: Node) = math.max(math.max(n.start - end, start - n.end), 0L)
          (onChr.toSeq.sortBy(n => (dist(n), n.start, n.end)).take(1).map(_.id).toSet, false)
        }
      case _ => (nameMatch(Seq(q.text)), true)
    }
    val ids = if (ego) seeds ++ seeds.flatMap(adj.getOrElse(_, Set.empty)) else seeds
    (seeds, ids, edges.filter { case (s, d) => ids(s) && ids(d) })
  }

  def response(q: Query, doc: String, positions: Seq[(String, Double, Double)],
               nodes: Map[String, Node], edges: Set[(String, String)],
               adj: Map[String, Set[String]]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val (seeds, ids, es) = expectSearch(q, nodes, edges, adj)
    val d = parseDoc(doc)
    if (ids.size <= 1) {
      if (doc.trim != "{}") bad += s"'${q.text}': expected {}"
    } else {
      if (d.nodeCount != ids.size || d.nodes.keySet != ids)
        bad += s"'${q.text}': ${d.nodeCount} nodes, expected ${ids.size}"
      if (d.edgeCount != es.size || d.edges.keySet != es)
        bad += s"'${q.text}': ${d.edgeCount} edges, expected ${es.size}"
      val deg = es.toSeq.flatMap { case (s, t) => Seq(s, t) }.groupBy(identity).view.mapValues(_.size).toMap
      for ((id, n) <- d.nodes) {
        val data = n.get("data")
        if (data.get("searched").asText != seeds(id).toString) bad += s"'${q.text}': $id searched"
        if (data.get("degree").asLong != deg.getOrElse(id, 0)) bad += s"'${q.text}': $id degree"
      }
      val pos = positions.groupBy(_._1)
      if (pos.keySet != ids || pos.values.exists(_.size != 1))
        bad += s"'${q.text}': layout placed ${pos.size} of ${ids.size} nodes"
      if (positions.exists { case (_, x, y) => !x.isFinite || !y.isFinite })
        bad += s"'${q.text}': non-finite position"
      if (positions.map(p => (p._2, p._3)).distinct.size == 1)
        bad += s"'${q.text}': every position coincides"
    }
    bad.toSeq
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Chas, GraphOps}

/** The iterative operators leave session conf alone: their distributed
  * regimes (local limits 0) give the same rows sequentially and on two
  * threads sharing one session, and the session's shuffle width and
  * AQE setting read the same while they run and afterwards. */
class SessionConfSpec extends SparkSpec {

  private def graph(s: SparkSession): DataFrame = {
    import s.implicits._
    val rnd = new scala.util.Random(11)
    ((0 until 40).map(_ => (s"v${rnd.nextInt(25)}", s"v${rnd.nextInt(25)}")) ++
      (0 until 8).map(i => (s"t$i", s"t${i + 1}")))
      .filter(e => e._1 != e._2).distinct.toDF("src", "dst")
  }

  private def ops(s: SparkSession): Seq[() => Seq[String]] = {
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).toSeq.sorted
    Seq(
      () => rows(GraphOps.connectedComponents(graph(s), localMaxEdges = 0L)),
      () => rows(GraphOps.diameterCertified(graph(s), localMaxEdges = 0L)),
      () => rows(Chas.randomize(graph(s), nReplicates = 2, seed = 5L,
        localMaxChainRows = 0L)))
  }

  test("distributed regimes write no session conf, alone or on two threads") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    def settings = (s.conf.get("spark.sql.shuffle.partitions"),
      s.conf.get("spark.sql.adaptive.enabled"))
    // every (width, AQE) pair a poller sees while `f` runs
    def watched[T](f: => T): (T, Set[(String, String)]) = {
      val seen = java.util.concurrent.ConcurrentHashMap
        .newKeySet[(String, String)]()
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val poller = new Thread(() =>
        while (running.get()) { seen.add(settings); Thread.sleep(1) })
      poller.start()
      val out = try f finally { running.set(false); poller.join() }
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSet + settings)
    }

    val (sequential, seenSeq) = watched(ops(s).map(_()))
    assert(seenSeq == Set(("4", "true")), "during the sequential run")

    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (concurrent, seenPar) = watched {
      try Await.result(Future.traverse(ops(s))(op => Future(op())), Duration.Inf)
      finally pool.shutdown()
    }
    assert(concurrent == sequential)
    assert(seenPar == Set(("4", "true")), "during the two-thread run")
  }
}

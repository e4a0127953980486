package graft.core

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.unsafe.Platform

/** Scale-aware regime dispatch (r13 verdict #2).
  *
  * Every iterative/skew-sensitive operator in the engine carries two
  * regimes pinned to ONE oracle: a small/medium form that wins at
  * serving scale (one-task fold, broadcast CSR, window over a key) and
  * an at-scale form that survives 100 TB (relational rounds,
  * groupBy+join-back, per-document streams). Most pairs already route
  * INTERNALLY on a cheap row-count stat, with `0` forcing the
  * distributed branch (the explicit `_dist` lane pins):
  *
  *   - a6/a7/g9  GraphOps       `localMaxEdges`  (sym edge rows)
  *   - g6        Chas.randomize `localMaxChainRows`
  *   - g8        Layout.coseRouted  per-component node counts
  *                                  (`BhMinNodes`/`BhLocalMaxNodes`)
  *   - t16       TextOps.bpeCore    `localMaxWords` (distinct words)
  *   - s11       Pipeline           `DocStreamMaxEdges`
  *   - q5/q6     Serving.open       `residentMaxEdges` (snapshot edge
  *                                  rows, [[ResidentMaxEdges]]): at or
  *                                  below it requests answer in the
  *                                  driver; above it over pinned frames
  *   - g8        Layout.cose        plan shape: inputs whose optimized
  *                                  plans are `LocalRelation`s (a
  *                                  resident search's subnet) lay out in
  *                                  the driver, within `localMaxRows`
  *   - a15       Chas.aggregateOntoFragments  `residentMaxEdges`
  *                                  (fragment rows and interval rows,
  *                                  each; default
  *                                  `Chas.ResidentAggregateMaxRows`,
  *                                  the measured crossover): at or
  *                                  below it the overlap
  *                                  aggregation runs in the driver
  *                                  ([[ResidentChas]]); above it the
  *                                  bucketed overlap join
  *   - s11       Pipeline.build     `residentMaxEdges` (the
  *                                  thresholded working set's rows and
  *                                  each annotation table's, each): at
  *                                  or below it the build's `resident`
  *                                  form, which the tree writer reads,
  *                                  computes the vertices and edges in
  *                                  the driver ([[ResidentBuild]]) as
  *                                  local frames, and the tree writer
  *                                  computes every tree file from them
  *                                  in the driver (grid or no layout);
  *                                  above it the lazy relational plans
  *                                  and the relational tree lanes
  *   - a17       Chas.featuresMetadataSubnets  `residentMaxEdges`
  *                                  (edge rows and feature rows, each;
  *                                  no distance match): at or below it
  *                                  the per-subnet statistics and the
  *                                  random envelope run in the driver;
  *                                  above it the relational plans (whose
  *                                  swap chain routes on
  *                                  `localMaxChainRows`)
  *
  * Routing picks a regime and nothing else: no branch writes session
  * conf (shuffle width, AQE), so every regime runs at the session's
  * own settings and concurrent callers may share one session.
  *
  * This object hosts the shared stat for the remaining pairs — the
  * d16 span family (window vs groupBy+join-back) and r3 MMR (one-task
  * pool fold vs relational rounds) — where the right cheap stat is
  * the INPUT SIZE ESTIMATE, not an exact count: the dispatch must not
  * cost a job, and Catalyst's logical-plan statistics are free (for a
  * parquet scan they come from file sizes; for derived frames from
  * the propagation rules). The estimate errs toward the safe branch:
  * both regimes serve the same oracle, so a misrouted input loses
  * only the small-regime constant factor, never correctness.
  */
object Regime {

  /** The most rows of any one input the driver collects to answer in
    * place of a relational plan. [[Serving.open]] keeps a
    * driver-resident copy of a snapshot with at most this many edges
    * and answers requests with no Spark job;
    * [[Chas.featuresMetadataSubnets]] computes in the driver when each
    * of its inputs has at most this many rows (one replicate, 4-core
    * host, medians of 5: 6.7 s there against 14.4 s over the
    * relational plans at 490k edges, 3.3 vs 8.4 s at sf0.1's 274k),
    * a [[Pipeline.build]]'s `resident` form computes its vertices and
    * edges in the driver when the working set and each annotation table
    * have at most this many rows (the fetch, the kernel and the local
    * frames took 3.3–4.4 s against 9.0–10.5 s to pin and count the
    * relational nodes and edges at sf0.1's 276k working rows, 6.1–6.4 s
    * against 11.0–12.1 s at 497k; warm session, 4-core host),
    * [[Pipeline.writeDatasetTree]] writes every tree file from that
    * form in the driver (build and tree with features and all four
    * annotation tables, warm session, 4-core host: 11.7–15.1 s against
    * 29.4–36.9 s over the relational lanes at 274k edges, 12.7–14.7 s
    * against 57.1–59.1 s at 490k; byte-identical trees), and
    * [[Chas.aggregateOntoFragments]] below its own measured
    * crossover. The value is ~3x the reference's largest dataset (Human
    * Monocyte, 171k edges / 96k nodes; BASELINE.md). The serving copy measured 10.6 MB (Spark's
    * SizeEstimator) for 15.5k edges / 9.9k nodes, so the cutoff bounds
    * it near 350 MB of driver heap at that node/edge ratio. Above it the
    * pinned frames serve (relational joins), and the
    * chromosome-partitioned snapshot is the at-scale form; the Chas
    * layers take their relational plans. */
  val ResidentMaxEdges = 500000L

  /** The rows of every frame in `dfs` when each has at most `maxRows`
    * of them, else None (`maxRows <= 0` is always None: the relational
    * route). The row check is the fetch. A local frame (its optimized
    * plan a `LocalRelation`) is counted and read with no job; all the
    * others are read together in ONE job of one task, which writes
    * their rows as `UnsafeRow` bytes into one array and decides in
    * place: once any of them passes `maxRows` (or the array half the
    * driver's `spark.driver.maxResultSize`) it stops reading and
    * returns no row, only that verdict. So a pinned or checkpointed input is read where its
    * blocks sit, each frame is planned once, and an input that turns
    * out too large costs one partial scan and no transfer to the
    * driver. */
  def collectAtMost(maxRows: Long, dfs: DataFrame*): Option[Seq[Array[Row]]] =
    if (maxRows <= 0L) None
    else {
      val local = dfs.map(localRows)
      val remote = dfs.indices.filter(local(_).isEmpty)
      if (local.exists(_.exists(_ > maxRows))) None
      else {
        // each row written as (input, size, its UnsafeRow bytes)
        val fetched: Option[Array[Byte]] =
          if (remote.isEmpty) Some(Array.emptyByteArray)
          else {
            val k = dfs.length
            val sc = dfs.head.sparkSession.sparkContext
            // past the largest array, or half the driver's result cap,
            // the rows count as too many
            val resultCap =
              sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
            val maxBytes = math.min(Int.MaxValue - 8L,
              if (resultCap <= 0L) Long.MaxValue else resultCap / 2)
            sc
              .union(remote.map { i =>
                val schema = dfs(i).schema
                dfs(i).queryExecution.toRdd.mapPartitions { rows =>
                  val toUnsafe = UnsafeProjection.create(schema)
                  rows.map(r => (i, toUnsafe(r)))
                }
              })
              .coalesce(1)
              .mapPartitions { it =>
                val seen = new Array[Long](k)
                var buf = new Array[Byte](1 << 16)
                var pos = 0
                var over = false
                while (!over && it.hasNext) {
                  val (i, row) = it.next()
                  seen(i) += 1
                  val size = row.getSizeInBytes
                  val need = pos + 8L + size
                  if (seen(i) > maxRows || need > maxBytes) over = true
                  else {
                    if (need > buf.length)
                      buf = java.util.Arrays.copyOf(buf,
                        math.min(math.max(buf.length * 2L, need), maxBytes)
                          .toInt)
                    Platform.putInt(buf, Platform.BYTE_ARRAY_OFFSET + pos, i)
                    Platform.putInt(buf, Platform.BYTE_ARRAY_OFFSET + pos + 4,
                      size)
                    row.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos + 8)
                    pos += 8 + size
                  }
                }
                Iterator.single(
                  if (over) None else Some(java.util.Arrays.copyOf(buf, pos)))
              }
              .collect().headOption.getOrElse(Some(Array.emptyByteArray))
          }
        fetched.map { bytes =>
          val rows = dfs.map(_ => mutable.ArrayBuffer.empty[Row])
          val toRow = dfs.map(df =>
            CatalystTypeConverters.createToScalaConverter(df.schema))
          val row = dfs.map(df => new UnsafeRow(df.schema.length))
          var pos = 0
          while (pos < bytes.length) {
            val i = Platform.getInt(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
            val size =
              Platform.getInt(bytes, Platform.BYTE_ARRAY_OFFSET + pos + 4)
            row(i).pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + pos + 8, size)
            rows(i) += toRow(i)(row(i)).asInstanceOf[Row]
            pos += 8 + size
          }
          dfs.indices.map { i =>
            if (local(i).isDefined) dfs(i).collect() else rows(i).toArray
          }
        }
      }
    }

  /** The row count of a local frame (its optimized plan a
    * `LocalRelation`, as `createDataFrame` over rows gives), read with
    * no job; None for a planned frame. */
  def localRows(df: DataFrame): Option[Long] =
    localData(df).map(_.length.toLong)

  /** A local frame's rows as its plan holds them (Catalyst rows in the
    * frame's own columns), read in place: no job and no new plan — a
    * plan over a large local frame walks its rows in every optimizer
    * rule (~2 s per plan at 490k rows). None for a planned frame. */
  private def localData(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** The string columns `cols` of the local frame `df`, one array per
    * column (null stays null), evaluated over its rows in place: the
    * columns are planned once over an EMPTY frame of `df`'s schema
    * (Spark's own expressions, analyzed and runtime-replaced as the
    * optimizer would) and projected over [[localData]]'s rows, so the
    * cost is per row, not per optimizer rule × row. */
  def localStrings(df: DataFrame, cols: Column*): Array[Array[String]] = {
    val data = localData(df).getOrElse(
      throw new IllegalArgumentException("localStrings: not a local frame"))
    val empty = df.sparkSession.createDataFrame(
      java.util.Collections.emptyList[Row](), df.schema)
    ReplaceExpressions(empty.select(cols: _*).queryExecution.analyzed) match {
      case Project(list, child) =>
        val project = UnsafeProjection.create(list, child.output)
        val out = Array.fill(cols.length)(new Array[String](data.length))
        var i = 0
        for (row <- data) {
          val r = project(row)
          for (c <- cols.indices if !r.isNullAt(c))
            out(c)(i) = r.getUTF8String(c).toString
          i += 1
        }
        out
      case other =>
        throw new IllegalStateException(s"localStrings: unexpected plan $other")
    }
  }

  /** Catalyst's estimated size of the frame in bytes — read from the
    * optimized logical plan's statistics; never launches a job. */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when `df`'s size estimate exceeds `maxBytes` — the shared
    * routing predicate. `maxBytes <= 0` forces true (the `_dist` lane
    * convention: 0 pins the at-scale branch, matching
    * `localMaxEdges = 0L` elsewhere). */
  def overBytes(df: DataFrame, maxBytes: Long): Boolean =
    maxBytes <= 0L || estimatedBytes(df) > BigInt(maxBytes)
}

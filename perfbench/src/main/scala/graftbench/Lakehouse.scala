package graftbench

import java.nio.file.{Path, Paths}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{MaterializedView, VersionedTable}

/** lakehouse_commits: writes beside reads on one long-lived versioned
  * table (k BIGINT, amount BIGINT, d DATE) with a materialized view
  * (per-day count and sum). Each round runs a fixed multiset of
  * operations in an order the seed permutes, with seeded rows and keys;
  * every second round ends with a compaction. The table grows by one
  * version per write, so manifest, footer-statistics and publish cost
  * dominate and per-row work is small.
  *
  * An in-memory model replays the same op stream on plain Scala maps.
  * Every read is checked against it outside the timed region, and at the
  * end so are the final snapshot, one time-travel version and the view.
  */
final class Lakehouse extends Workload {
  private val InitialRows = 20000
  private val AppendRows = 200
  private val InsertRows = 150
  private val UpsertRows = 100
  private val DeleteSpan = 40
  private val RangeSpan = 300
  private val RecentKeys = 2000
  private val Days = 730
  private val CompactEvery = 2
  private val CompactFiles = 4
  /** write_amp is taken when this many ops have run (every run gets
    * there: it is within the first MinRounds rounds), so it measures the
    * same op prefix on every run. */
  private val AmpAtOps = 30
  /** Three compaction periods: six samples of every kind but `compact`,
    * so a kind's median holds when a host stall slows a round or two. */
  private val MinRounds = 6

  /** One op of every kind: a round's time goes to more rounds, not to
    * more samples of the cheap kinds. */
  private val Round: Seq[String] = Seq(
    "append", "upsert", "delete", "sql_insert", "sql_merge", "sql_refresh_mv",
    "point_read", "range_read", "time_travel", "mv_read", "meta")

  private val layerOf: Map[String, String] = Map(
    "sql_insert" -> "sql", "sql_merge" -> "sql", "sql_refresh_mv" -> "sql").withDefaultValue("sources")

  private val Writes = Set("append", "upsert", "delete", "sql_insert", "sql_merge", "sql_refresh_mv", "compact")

  private val schema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("amount", LongType, nullable = false), StructField("d", DateType, nullable = false)))
  private val epoch = LocalDate.of(2020, 1, 1)

  private var root: String = _
  private var table: String = _
  private var view: String = _
  private var rnd: SplittableRandom = _
  private var initial: Seq[(Long, Long, Int)] = Nil
  // the model: live rows, per-version (count, sum), the view's expected state
  private val live = mutable.HashMap.empty[Long, (Long, Int)]
  private val liveKeys = ArrayBuffer.empty[Long]
  private val versionStats = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var mvModel = Map.empty[Int, (Long, Long)]
  private var nextKey = 0L
  private var writeAmp = Double.NaN
  private val filesPerCommit = ArrayBuffer.empty[Double]
  private val filesReadRatio = ArrayBuffer.empty[Double]
  private var srcSeq = 0
  private var readsChecked = 0
  private val readMismatches = ArrayBuffer.empty[String]

  private def rows(n: Int, keys: Iterator[Long]): Seq[(Long, Long, Int)] =
    keys.take(n).map(k => (k, 1L + rnd.nextInt(100000), rnd.nextInt(Days))).toSeq

  private def freshKeys(): Iterator[Long] = Iterator.continually { nextKey += 1; nextKey - 1 }

  private def df(rs: Seq[(Long, Long, Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rs.map { case (k, a, d) => Row(k, a, java.sql.Date.valueOf(epoch.plusDays(d.toLong))) }, 1), schema)

  private var spark: org.apache.spark.sql.SparkSession = _

  private def applyUpsert(rs: Seq[(Long, Long, Int)]): Unit = rs.foreach { case (k, a, d) =>
    if (!live.contains(k)) liveKeys += k
    live(k) = (a, d)
  }

  private def headVersion: Long = VersionedTable.versions(table).last

  private def recordVersion(): Unit =
    versionStats(headVersion) = (live.size.toLong, live.valuesIterator.map(_._1).sum)

  private def mvExpected: Map[Int, (Long, Long)] =
    live.valuesIterator.toSeq.groupBy(_._2).map { case (d, g) => d -> (g.size.toLong, g.map(_._1).sum) }

  /** The in-memory inputs: the seeded stream and the initial rows. */
  def setup(ctx: Ctx, dir: Path): Unit = {
    spark = ctx.spark
    rnd = new SplittableRandom(ctx.seed * 104729L + 11)
    root = dir.toString
    table = s"$root/lh/t"
    view = s"$root/lh/v"
    initial = rows(InitialRows, freshKeys())
    ctx.input("seed", ctx.seed)
    ctx.input("initial_rows", InitialRows)
  }

  /** Creates the table (overwrite, bloom index) and its view, then runs
    * one untimed compaction period: the first calls of every op kind and
    * much of the JIT's tail (after a single warm-up round the first
    * measured period ran a fifth slower than the third; after a whole
    * period, an eighth). Its writes are part of the replayed stream like
    * any other. */
  def warmup(ctx: Ctx): Unit = {
    spark.conf.set("spark.sql.catalog.graft.root", root)
    VersionedTable.overwrite(spark, table, df(initial))
    applyUpsert(initial)
    VersionedTable.setBloomIndex(spark, table, Seq(("k", 0.01)))
    recordVersion()
    spark.sql(
      """CREATE MATERIALIZED VIEW graft.lh.v BUCKETS 0 AS
        |SELECT d, COUNT(*) AS mv_count, SUM(amount) AS mv_sum_amount
        |FROM graft.lh.t GROUP BY d""".stripMargin)
    mvModel = mvExpected
    ctx.input("initial_bytes", Files2.treeBytes(Paths.get(table)))
    (Seq.fill(CompactEvery)(Round).flatten :+ "compact").foreach(k => runOp(ctx, k, timed = false))
  }

  /** Rounds come in compaction periods: the last round of each ends with
    * a compaction. A traced run traces whole periods, so its traced and
    * untraced rounds see the same table states. */
  def run(ctx: Ctx): Unit = {
    ctx.tracePeriod = CompactEvery
    while (ctx.anotherRound(MinRounds)) {
      val order = Round.map(k => (rnd.nextInt(), k)).sortBy(_._1).map(_._2)
      val kinds = if ((ctx.round + 1) % CompactEvery == 0) order :+ "compact" else order
      kinds.foreach(k => if (ctx.underHardLimit) runOp(ctx, k, timed = true))
      ctx.endRound()
    }
    val ops = ctx.ops.toSeq
    val w = ops.filter(o => Writes(o.kind)).map(_.s)
    val r = ops.filterNot(o => Writes(o.kind)).map(_.s)
    ctx.extra += Metric("commit_s_p50", Stats.median(w), "s")
    ctx.extra += Metric("commit_s_p95", Stats.quantile(w, 0.95), "s")
    ctx.extra += Metric("commit_s_p95_beyond", Stats.beyond(w, 0.95), "count")
    ctx.extra += Metric("read_s_p50", Stats.median(r), "s")
    ctx.extra += Metric("read_s_p90", Stats.quantile(r, 0.9), "s")
    ctx.extra += Metric("read_s_p90_beyond", Stats.beyond(r, 0.9), "count")
    ctx.extra += Metric("write_amp", writeAmp, "bytes/byte")
    ctx.extra += Metric("versions", VersionedTable.versions(table).size, "count")
    ctx.input("final_versions", VersionedTable.versions(table).size)
    ctx.input("final_live_rows", live.size)
    ctx.input("final_table_bytes", Files2.treeBytes(Paths.get(table)))
  }

  /** One op: draw its inputs from the seeded stream (untimed), run it
    * (timed when measured), then replay it on the model and check reads
    * (untimed). */
  private def runOp(ctx: Ctx, kind: String, timed: Boolean): Unit = {
    val spark = ctx.spark
    def exec[T](body: => T): Option[T] =
      if (timed) ctx.op(kind, layerOf(kind))(body) else Some(ctx.tracer.span(layerOf(kind), kind)(body))
    def sample(n: Int): Seq[Long] = Seq.fill(n)(liveKeys(rnd.nextInt(liveKeys.size)))
    // mutations correct recent data, so each touches the small files of the
    // last few commits whatever the seed, not a seed-dependent share of the
    // large initial files
    def recent(): Long = liveKeys(liveKeys.size - 1 - rnd.nextInt(math.min(RecentKeys, liveKeys.size)))
    def srcView(rs: Seq[(Long, Long, Int)]): String = {
      srcSeq += 1
      val name = s"lh_src_$srcSeq"
      df(rs).createOrReplaceTempView(name)
      name
    }
    val tracedWrite = ctx.tracer.enabled && timed && ctx.tracedRound && Writes(kind)
    val files0 = if (tracedWrite) Files2.treeFiles(Paths.get(table), ".parquet") else 0L
    kind match {
      case "append" =>
        val rs = rows(AppendRows, freshKeys())
        val d = df(rs)
        exec(VersionedTable.append(spark, table, d)).foreach { _ => applyUpsert(rs); recordVersion() }
      case "upsert" =>
        val keys = (Seq.fill(UpsertRows * 7 / 10)(recent()) ++ freshKeys().take(UpsertRows * 3 / 10)).distinct
        val rs = rows(keys.size, keys.iterator)
        val d = df(rs)
        exec(VersionedTable.upsert(spark, table, d, "k")).foreach { _ => applyUpsert(rs); recordVersion() }
      case "delete" =>
        val lo = recent()
        exec(VersionedTable.delete(spark, table, col("k") >= lo && col("k") < lo + DeleteSpan)).foreach { _ =>
          (lo until lo + DeleteSpan).foreach(live.remove)
          liveKeys.filterInPlace(live.contains)
          recordVersion()
        }
      case "sql_insert" =>
        val rs = rows(InsertRows, freshKeys())
        val v = srcView(rs)
        exec(spark.sql(s"INSERT INTO graft.lh.t SELECT k, amount, d FROM $v")).foreach { _ =>
          applyUpsert(rs); recordVersion()
        }
        spark.catalog.dropTempView(v)
      case "sql_merge" =>
        val keys = (Seq.fill(60)(recent()) ++ freshKeys().take(40)).distinct
        val rs = rows(keys.size, keys.iterator)
        val v = srcView(rs)
        exec(spark.sql(
          s"""MERGE INTO graft.lh.t t USING $v s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)).foreach { _ => applyUpsert(rs); recordVersion() }
        spark.catalog.dropTempView(v)
      case "sql_refresh_mv" =>
        exec(spark.sql("REFRESH MATERIALIZED VIEW graft.lh.v")).foreach(_ => mvModel = mvExpected)
      case "compact" =>
        exec(VersionedTable.compact(spark, table, CompactFiles)).foreach(_ => recordVersion())
      case "point_read" =>
        val keys = sample(4) ++ Seq(nextKey + 1000)
        exec(VersionedTable.readPoints(spark, table, "k", keys).collect()).foreach { got =>
          val want = keys.distinct.flatMap(k => live.get(k).map(v => (k, v)))
          checkRows(ctx, "point_read", got, want)
          if (ctx.tracedRound && timed) filesReadRatio +=
            VersionedTable.filesForPoints(table, "k", keys, None)._1.size.toDouble /
              VersionedTable.snapshotFiles(table).size
        }
      case "range_read" =>
        val lo = liveKeys(rnd.nextInt(liveKeys.size))
        exec(VersionedTable.readRange(spark, table, "k", lo.toDouble, (lo + RangeSpan - 1).toDouble).collect())
          .foreach { got =>
            val want = (lo until lo + RangeSpan).flatMap(k => live.get(k).map(v => (k, v)))
            checkRows(ctx, "range_read", got, want)
            if (ctx.tracedRound && timed) filesReadRatio +=
              VersionedTable.filesForRange(table, "k", lo.toDouble, (lo + RangeSpan - 1).toDouble, None)._1.size.toDouble /
                VersionedTable.snapshotFiles(table).size
          }
      case "time_travel" =>
        val vs = versionStats.keys.toIndexedSeq
        val v = vs(rnd.nextInt(vs.size))
        exec(VersionedTable.read(spark, table, Some(v)).agg(count(lit(1)), sum("amount")).head()).foreach { r =>
          val want = versionStats(v)
          val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
          readCheck(s"time_travel v$v", got == want, s"got $got, model $want")
        }
      case "mv_read" =>
        exec(MaterializedView.read(spark, view).select("d", "mv_count", "mv_sum_amount").collect())
          .foreach(got => readCheck("mv_read", viewMatches(got), s"${got.length} groups vs ${mvModel.size}"))
      case "meta" =>
        exec {
          val vs = VersionedTable.versions(table)
          val files = VersionedTable.snapshotFiles(table)
          val hist = VersionedTable.history(spark, table).count()
          (vs.size, files.size, hist)
        }.foreach { case (nv, _, nh) =>
          readCheck("meta", nh == nv, s"history $nh rows vs $nv versions")
        }
    }
    if (tracedWrite) filesPerCommit += (Files2.treeFiles(Paths.get(table), ".parquet") - files0).toDouble
    if (timed && ctx.ops.size == AmpAtOps) {
      writeAmp = Files2.treeBytes(Paths.get(table)).toDouble / (live.size * Lakehouse.RowBytes)
    }
    Main.cleanup(spark)
  }

  private def rowKey(r: Row): (Long, (Long, Int)) =
    (r.getLong(0), (r.getLong(1), java.time.temporal.ChronoUnit.DAYS.between(epoch, r.getDate(2).toLocalDate).toInt))

  private def readCheck(what: String, ok: Boolean, detail: => String): Unit = {
    readsChecked += 1
    if (!ok) readMismatches += s"$what: $detail"
  }

  private def checkRows(ctx: Ctx, what: String, got: Array[Row], want: Seq[(Long, (Long, Int))]): Unit = {
    val g = got.toSeq.map(rowKey).sortBy(_._1)
    val w = want.sortBy(_._1)
    readCheck(what, g == w, s"got ${g.size} rows, model ${w.size}")
  }

  private def viewMatches(got: Array[Row]): Boolean =
    got.toSeq.map(r => java.time.temporal.ChronoUnit.DAYS.between(epoch, r.getDate(0).toLocalDate).toInt ->
      (asLong(r.get(1)), asLong(r.get(2)))).filter(_._2._1 > 0).toMap == mvModel

  /** View state columns may be stored wider than the source (DECIMAL sums). */
  private def asLong(v: Any): Long = v match {
    case d: java.math.BigDecimal => d.longValueExact()
    case n: Number => n.longValue()
  }

  /** Per-layer numbers: median span time per op kind, jobs per write,
    * files per commit, pruning ratio of the indexed reads. */
  def traceLayers(ctx: Ctx): Unit = if (ctx.tracer.enabled) {
    val tr = ctx.tracer
    val opSpans = tr.spans.toSeq.filter(s => s.parent == 0 && s.layer != "bench")
    def med(kind: String) = Stats.median(opSpans.filter(_.name == kind).map(_.durS))
    def jobsPer(kinds: Set[String]) = {
      val ss = opSpans.filter(s => kinds(s.name))
      if (ss.isEmpty) Double.NaN else ss.map(s => tr.engine(s.id).jobs).sum.toDouble / ss.size
    }
    Seq("append" -> "sources.append_s", "upsert" -> "sources.upsert_s", "delete" -> "sources.delete_s",
      "compact" -> "sources.compact_s", "sql_refresh_mv" -> "sources.mv_refresh_s", "meta" -> "sources.meta_s",
      "point_read" -> "sources.point_read_s", "range_read" -> "sources.range_read_s",
      "time_travel" -> "sources.time_travel_s", "mv_read" -> "sources.mv_read_s",
      "sql_insert" -> "sql.insert_s", "sql_merge" -> "sql.merge_s", "sql_refresh_mv" -> "sql.refresh_s")
      .foreach { case (k, m) => ctx.layer += Metric(m, med(k), "s") }
    ctx.layer += Metric("sources.jobs_per_commit", jobsPer(Set("append", "upsert", "delete", "compact")), "jobs")
    ctx.layer += Metric("sql.jobs_per_stmt", jobsPer(Set("sql_insert", "sql_merge", "sql_refresh_mv")), "jobs")
    ctx.layer += Metric("sources.files_per_commit", Stats.median(filesPerCommit.toSeq), "files")
    ctx.layer += Metric("sources.files_read_ratio", Stats.median(filesReadRatio.toSeq), "ratio")
    ctx.layer += Metric("sources.bytes_written_per_user_byte", writeAmp, "bytes/byte")
  }

  def checkOutputs(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val want = live.toSeq
    val finalRows = VersionedTable.read(spark, table).collect()
    val (gn, gh) = ResultHash.of(finalRows.toSeq.map(r => Row.fromTuple(rowKey(r))))
    val (wn, wh) = ResultHash.of(want.map(Row.fromTuple))
    ctx.check("final snapshot equals the replay", gn == wn && gh == wh, s"got $gn/$gh, replay $wn/$wh")
    val vs = versionStats.keys.toIndexedSeq
    val old = vs(vs.size / 3)
    val r = VersionedTable.read(spark, table, Some(old)).agg(count(lit(1)), sum("amount")).head()
    ctx.check(s"time travel to v$old equals the replay", (r.getLong(0), r.getLong(1)) == versionStats(old),
      s"got (${r.getLong(0)}, ${r.getLong(1)}), replay ${versionStats(old)}")
    spark.sql("REFRESH MATERIALIZED VIEW graft.lh.v")
    mvModel = mvExpected
    val mv = MaterializedView.read(spark, view).select("d", "mv_count", "mv_sum_amount").collect()
    ctx.check("materialized view equals the replay", viewMatches(mv), s"${mv.length} groups vs ${mvModel.size}")
    ctx.check(s"all $readsChecked reads equal the replay", readMismatches.isEmpty, readMismatches.take(5).mkString("; "))
    ctx.check("write_amp measured", !writeAmp.isNaN, "fewer ops than the write_amp checkpoint")
    Main.cleanup(spark)
  }
}

object Lakehouse {
  /** Raw width of one live row: k and amount (8 bytes each), d (4). */
  val RowBytes = 20L
}

package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** query_suite: the fixed-cost regime. A fixed list of registry queries
  * over the small synthetic star schema, plus the paper's five MapReduce
  * jobs over a seeded corpus ([[Corpus]]), each run through the noop
  * sink. One round is one pass over all of them in an order the seed
  * permutes. A registry query is timed as two spans: its entry function
  * (building the DataFrame, including any eager gates and checkpoints)
  * and the noop write that executes it.
  */
final class QuerySuite(writePins: Option[String]) extends Workload {
  import QuerySuite.queries
  private val corpus = new Corpus
  private val corpusJobs = corpus.jobs.toMap
  private val kinds = queries ++ corpus.jobs.map(_._1)

  private var starDir: String = _
  private val results = mutable.LinkedHashMap.empty[String, (Long, String)]

  def setup(ctx: Ctx, dir: Path): Unit = {
    starDir = dir.resolve("star").toString
    ctx.input("seed", ctx.seed)
    ctx.input("star.generator_seed", StarSchema.Seed)
    StarSchema.write(ctx.spark, starDir).foreach { case (t, n) => ctx.input(s"star.rows.$t", n) }
    ctx.input("star.bytes", Files2.treeBytes(dir.resolve("star")))
    ctx.input("star.queries", queries.size)
    corpus.setup(ctx, dir.resolve("corpus"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def layerOf(kind: String): String = corpusJobs.getOrElse(kind, QuerySuite.module(kind))

  private def runOne(ctx: Ctx, kind: String): Unit =
    if (corpusJobs.contains(kind)) corpus.run(ctx, kind)
    else {
      val m = QuerySuite.module(kind)
      val df = ctx.tracer.span(m, "build")(SparkEntry.queries(kind)(ctx.spark, starDir))
      ctx.tracer.span(m, "exec")(noop(df))
    }

  /** One untimed pass, the first call of every operation, which doubles
    * as the correctness pass: each registry query is collected once and
    * fingerprinted (row count and order-insensitive hash), and the
    * MapReduce jobs' outputs are checked. */
  def warmup(ctx: Ctx): Unit = {
    queries.foreach { q =>
      try results(q) = ResultHash.of(SparkEntry.queries(q)(ctx.spark, starDir))
      catch { case e: Throwable => results(q) = (-1L, s"failed: ${e.getClass.getSimpleName}") }
      Main.cleanup(ctx.spark)
    }
    corpus.check(ctx)
    Main.cleanup(ctx.spark)
  }

  /** The best of a kind's samples, as the engine's own per-query bench
    * reports: the first measured round still carries the JIT's tail. A
    * failed sample (+Inf) is never hidden by a good one. */
  override def kindStat(samples: Seq[Double]): Double =
    if (samples.exists(_.isInfinite)) Double.PositiveInfinity else samples.min

  /** At least two whole rounds; a traced run needs four (see Ctx.anotherRound). */
  def run(ctx: Ctx): Unit = {
    val rnd = new SplittableRandom(ctx.seed * 31L + 7)
    while (ctx.anotherRound(2)) {
      val order = kinds.map(k => (rnd.nextInt(), k)).sortBy(_._1).map(_._2)
      for (k <- order if ctx.underHardLimit) {
        ctx.op(k, layerOf(k))(runOne(ctx, k))
        Main.cleanup(ctx.spark)
      }
      ctx.endRound()
    }
    val star = ctx.ops.toSeq.filter(o => !corpusJobs.contains(o.kind))
    val lat = star.map(_.s)
    ctx.extra += Metric("query_s_p50", Stats.median(lat), "s")
    ctx.extra += Metric("query_s_p90", Stats.quantile(lat, 0.9), "s")
    ctx.extra += Metric("query_s_p90_beyond", Stats.beyond(lat, 0.9), "count")
    ctx.extra += Metric("query_samples", lat.size, "count")
    ctx.extra += Metric("suite_s", Main.roundS(star, kindStat), "s")
    corpus.metrics(ctx)
  }

  /** Per entry module: the build (entry function) and exec (noop write)
    * time of one pass over the star-schema queries, and the jobs its
    * entry functions run eagerly per pass; plus the MapReduce jobs' core
    * and functions numbers. */
  def traceLayers(ctx: Ctx): Unit = if (ctx.tracer.enabled) {
    val tr = ctx.tracer
    val opSpans = tr.spans.toSeq.filter(s => s.parent == 0 && queries.contains(s.name))
    val kids = tr.spans.toSeq.groupBy(_.parent)
    for (m <- QuerySuite.Modules) {
      val mine = opSpans.filter(_.layer == m).groupBy(_.name)
      def perPass(f: Span => Double, part: String) = mine.values.map { ss =>
        Stats.median(ss.flatMap(s => kids.getOrElse(s.id, Nil).filter(_.name == part)).map(f))
      }.sum
      ctx.layer += Metric(s"$m.build_s", perPass(_.durS, "build"), "s/pass")
      ctx.layer += Metric(s"$m.exec_s", perPass(_.durS, "exec"), "s/pass")
      ctx.layer += Metric(s"$m.eager_jobs", perPass(s => tr.engine(s.id).jobs.toDouble, "build"), "jobs/pass")
    }
    corpus.traceLayers(ctx)
  }

  def checkOutputs(ctx: Ctx): Unit = {
    writePins match {
      case Some(path) =>
        val lines = results.map { case (q, (n, h)) => s"$q\t$n\t$h" }
        Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        ctx.check("pins written", results.values.forall(_._1 >= 0), "a query failed")
      case None =>
        for ((q, got) <- results) QuerySuite.pins.get(q) match {
          case Some(want) => ctx.check(s"$q result", got == want, s"got $got, pinned $want")
          case None => ctx.check(s"$q result", ok = false, "no pinned result")
        }
    }
    Main.cleanup(ctx.spark)
  }
}

object QuerySuite {
  val Modules = Seq("operators", "dedup", "similarity", "multimodal")

  def module(q: String): String =
    if (q.startsWith("dedup_") || q == "q_dedup_incremental") "dedup"
    else if (q.startsWith("ann_") || q == "knn_join") "similarity"
    else if (q.startsWith("multimodal_")) "multimodal"
    else "operators"

  /** Thirteen of the registry's 153 non-lakehouse queries, chosen from a
    * warm survey of all of them on this star schema ([[Survey]],
    * perfbench/survey.tsv; the reason for each in perfbench/README.md):
    * one query from each twelfth of the latency ranking, two from the
    * slowest, so the mix spans the registry's latency distribution and its
    * heavy tail, and every entry module at least once. The slow picks are
    * the open items' families: graph_bfs (18 eager jobs in its entry
    * function), ann_ivf (8) and dedup_minhash_lsh. */
  val queries: Seq[String] = Seq(
    "q_regex", "q6_revenue", "q_grouping_sets", "multimodal_stats", "q_antijoin", "text_bpe_train",
    "q_semijoin", "q_drift", "text_tfidf", "q_cume_dist", "dedup_minhash_lsh", "ann_ivf", "graph_bfs")

  /** name -> (rows, hash), pinned from a run whose results matched the
    * engine's DuckDB oracle SQL over the same generated tables. */
  lazy val pins: Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/graftbench/query_pins.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split("\t")
      q -> (n.toLong, h)
    }.toMap finally in.close()
  }
}

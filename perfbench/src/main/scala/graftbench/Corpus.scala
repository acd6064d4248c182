package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.MapReduce
import graft.functions.Signatures

/** The paper's own MapReduce jobs over a seeded corpus: a Zipf text
  * corpus and an integer set, written both as text-file directories (for
  * the `core.MapReduce` facade) and as the `documents` and `lineitem`
  * tables the registry's MapReduce jobs read. Part of query_suite, so at
  * this size each job's fixed cost is still a large share of its time.
  */
final class Corpus {
  private val Docs = 6000
  private val WordsMin = 40
  private val WordsMax = 120
  private val Vocab = 20000
  private val ZipfS = 1.05
  private val Ints = 300000
  private val IntsPerLine = 100
  private val Parts = 8

  private var textDir, intsDir, tablesDir: String = _
  private var tokens = 0L
  private var intSum = 0L

  /** (job, layer of its entry point) */
  val jobs: Seq[(String, String)] = Seq(
    "core.wordcount" -> "core", "core.numbersort" -> "core",
    "mr_wordcount" -> "operators", "mr_inverted_index" -> "operators",
    "mr_numbersort" -> "operators")

  private def vocabulary(rnd: SplittableRandom): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Vocab) {
      val len = 2 + rnd.nextInt(8)
      seen += new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    seen.toArray
  }

  private def writeParts(dir: Path, lines: Array[String]): Unit = {
    Files.createDirectories(dir)
    for (p <- 0 until Parts) {
      val part = lines.indices.filter(_ % Parts == p).map(lines(_)).mkString("", "\n", "\n")
      Files.write(dir.resolve(f"part-$p%02d.txt"), part.getBytes(StandardCharsets.UTF_8))
    }
  }

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val rnd = new SplittableRandom(ctx.seed * 1000003L + 17)
    val vocab = vocabulary(rnd)
    val cdf = {
      val c = Array.tabulate(Vocab)(i => 1.0 / math.pow(i + 1, ZipfS)).scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, Vocab - 1))
    }
    textDir = dir.resolve("text").toString
    intsDir = dir.resolve("ints").toString
    tablesDir = dir.resolve("tables").toString

    val lengths = Array.fill(Docs)(WordsMin + rnd.nextInt(WordsMax - WordsMin + 1))
    tokens = lengths.map(_.toLong).sum
    writeParts(dir.resolve("text"), lengths.map(n => Seq.fill(n)(word()).mkString(" ")))
    val ints = Array.fill(Ints)(rnd.nextInt(1000000000))
    intSum = ints.map(_.toLong).sum
    writeParts(dir.resolve("ints"), ints.grouped(IntsPerLine).map(_.mkString(" ")).toArray)

    // the tables hold exactly the text files' content, one document per line
    spark.read.text(textDir)
      .select(monotonically_increasing_id().as("doc_id"), col("value").as("text"),
        lit("en").as("lang"), lit("src0").as("source"), length(col("value")).cast("long").as("n_chars"))
      .write.parquet(s"$tablesDir/documents.parquet")
    spark.read.text(intsDir)
      .select(explode(split(col("value"), " ")).as("n"))
      .select(col("n").cast("double").as("l_extendedprice"))
      .write.parquet(s"$tablesDir/lineitem.parquet")

    ctx.input("corpus.documents", Docs)
    ctx.input("corpus.tokens", tokens)
    ctx.input("corpus.vocabulary", Vocab)
    ctx.input("corpus.text_bytes", Files2.treeBytes(dir.resolve("text")))
    ctx.input("corpus.integers", Ints)
    ctx.input("corpus.integer_sum", intSum)
    ctx.input("corpus.table_bytes", Files2.treeBytes(dir.resolve("tables")))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx, job: String): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    job match {
      case "core.wordcount" =>
        tr.span("core", "wordCount")(noop(MapReduce.wordCount(spark, textDir).toDF()))
      case "core.numbersort" =>
        tr.span("core", "numberSort")(noop(MapReduce.numberSort(spark, intsDir).toDF()))
      case q =>
        val df = tr.span("operators", "build")(SparkEntry.queries(q)(spark, tablesDir))
        tr.span("operators", "exec")(noop(df))
    }
  }

  /** Throughput and latency of the jobs among the measured ops. */
  def metrics(ctx: Ctx): Unit = {
    val mine = ctx.ops.toSeq.filter(o => jobs.exists(_._1 == o.kind))
    def time(kinds: String*) = mine.filter(o => kinds.contains(o.kind)).map(_.s)
    val wc = time("core.wordcount", "mr_wordcount", "mr_inverted_index")
    val ns = time("core.numbersort", "mr_numbersort")
    ctx.extra += Metric("mr_tokens_per_s", tokens * wc.size / wc.sum, "tokens/s")
    ctx.extra += Metric("mr_sort_rows_per_s", Ints.toDouble * ns.size / ns.sum, "rows/s")
    ctx.extra += Metric("mr_job_s_p50", Stats.median(mine.map(_.s)), "s")
    ctx.extra += Metric("mr_jobs", mine.size, "count")
  }

  /** Traced run: the core jobs' span times and a direct select over the
    * tokenize kernel. */
  def traceLayers(ctx: Ctx): Unit = if (ctx.tracer.enabled) {
    val tr = ctx.tracer
    def med(layer: String, name: String) = Stats.median(tr.named(layer, name).map(_.durS))
    ctx.layer += Metric("core.wordcount_s", med("core", "wordCount"), "s")
    ctx.layer += Metric("core.numbersort_s", med("core", "numberSort"), "s")
    val docs = ctx.spark.read.parquet(s"$tablesDir/documents.parquet").repartition(ctx.cores).cache()
    docs.count()
    val kernel = (1 to 3).map { _ =>
      val t = System.nanoTime()
      val n = tr.span("functions", "refTokensFast")(
        docs.select(size(Signatures.refTokensFast(col("text"))).as("n")).agg(sum("n")).head().getLong(0))
      (n, (System.nanoTime() - t).toDouble / n)
    }
    docs.unpersist()
    ctx.check("functions.refTokensFast counts the generated tokens", kernel.forall(_._1 == tokens),
      s"${kernel.map(_._1)} != $tokens")
    ctx.layer += Metric("functions.ns_per_token", Stats.median(kernel.map(_._2)), "ns")
  }

  /** The jobs' outputs: word counts sum to the generated token count,
    * the `core` and `operators` word counts agree, both sorts are ordered
    * with the input's count and sum. */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val core = MapReduce.wordCount(spark, textDir).toDF("word", "n").collect().toSeq
    val coreSum = core.map(_.getLong(1)).sum
    ctx.check("core.wordCount sums to the generated token count", coreSum == tokens, s"$coreSum != $tokens")
    val ops = SparkEntry.queries("mr_wordcount")(spark, tablesDir).select($"word", $"n".cast("long"))
    val (hc, ho) = (ResultHash.of(core), ResultHash.of(ops))
    ctx.check("core and operators word counts agree", hc == ho, s"core $hc vs operators $ho")
    val inv = SparkEntry.queries("mr_inverted_index")(spark, tablesDir)
      .agg(sum("n_occurrences"), count(lit(1))).head()
    ctx.check("inverted index occurrences sum to the token count",
      inv.getLong(0) == tokens && inv.getLong(1) == hc._1, s"${inv.getLong(0)} / ${inv.getLong(1)}")
    checkSorted(ctx, "core.numberSort", MapReduce.numberSort(spark, intsDir).toDF().rdd.map(_.getInt(0).toLong))
    checkSorted(ctx, "mr_numbersort", SparkEntry.queries("mr_numbersort")(spark, tablesDir).rdd.map(_.getDouble(0).toLong))
  }

  /** Sorted output: every partition non-decreasing, partitions in order,
    * and the same count and sum as the generated integers. */
  private def checkSorted(ctx: Ctx, name: String, rdd: RDD[Long]): Unit = {
    val parts = rdd.mapPartitionsWithIndex { (i, it) =>
      var n, s = 0L
      var lo = Long.MaxValue
      var hi, prev = Long.MinValue
      var sorted = true
      it.foreach { v =>
        if (v < prev) sorted = false
        prev = v; n += 1; s += v; lo = math.min(lo, v); hi = math.max(hi, v)
      }
      Iterator((i, n, s, lo, hi, sorted))
    }.collect().sortBy(_._1).filter(_._2 > 0)
    val inOrder = parts.sliding(2).forall(p => p.length < 2 || p(0)._5 <= p(1)._4)
    val n = parts.map(_._2).sum
    val s = parts.map(_._3).sum
    ctx.check(s"$name output is sorted with the input's count and sum",
      parts.forall(_._6) && inOrder && n == Ints && s == intSum,
      s"sorted=${parts.forall(_._6)} ordered=$inOrder n=$n sum=$s")
  }
}

package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Measures every named registry query once, warm, on the benchmark's
  * star schema: the time and Spark jobs inside its entry function
  * (eager gates and checkpoints) and in the noop write that executes
  * it. query_suite's query list was chosen from this table.
  *
  *   java -cp <classpath> graftbench.Survey --work DIR --out FILE --queries q1,q2,...
  *
  * Writes `query module build_s build_jobs exec_s exec_jobs error` as TSV.
  */
object Survey {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val names = opt("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work.resolve("tmp"))
    val star = work.resolve("star").toString
    StarSchema.write(spark, star)
    val tr = new Tracer(spark, enabled = true)
    val rows = names.map { q =>
      val m = QuerySuite.module(q)
      def once(): (Span, Span) = {
        val df = tr.span(m, "build")(SparkEntry.queries(q)(spark, star))
        val b = tr.spans.last
        tr.span(m, "exec")(df.write.format("noop").mode("overwrite").save())
        val e = tr.spans.last
        Main.cleanup(spark)
        (b, e)
      }
      try {
        once()
        val (b, e) = once()
        tr.drain()
        val line = Seq(q, m, f"${b.durS}%.4f", tr.engine(b.id).jobs, f"${e.durS}%.4f", tr.engine(e.id).jobs, "")
        System.err.println(line.mkString("\t"))
        line.mkString("\t")
      } catch {
        case ex: Throwable =>
          Main.cleanup(spark)
          Seq(q, m, "", "", "", "", ex.getClass.getSimpleName).mkString("\t")
      }
    }
    Files.writeString(Paths.get(opt("out")),
      ("query\tmodule\tbuild_s\tbuild_jobs\texec_s\texec_jobs\terror" +: rows).mkString("", "\n", "\n"))
    spark.stop()
    Files2.deleteTree(work)
  }
}

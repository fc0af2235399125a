package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm call compiles nothing: the generated-class cache that
  * [[GraftSession]] sizes holds a q51-sized working set. The cache is
  * JVM-global and sized by the first session that generates code, so the
  * check runs in a child JVM whose only session comes from
  * [[GraftSession]], whatever sessions this suite's JVM built before;
  * the suite never touches the shared `spark` session. */
class CodegenCacheSpec extends SparkSpec {

  test("the third q51 call compiles at most a handful of classes") {
    val javaBin = new java.io.File(System.getProperty("java.home"), "bin/java").getPath
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx2g", "-cp",
      System.getProperty("java.class.path"), "graft.WarmCallCompiles", sf001)
    val out = new StringBuilder
    val log = (l: String) => out.synchronized { out.append(l).append('\n'); () }
    val code = scala.sys.process.Process(cmd) ! scala.sys.process.ProcessLogger(log, log)
    val counts = out.toString.linesIterator.collectFirst {
      case l if l.startsWith("compiles ") => l.stripPrefix("compiles ").split(' ').map(_.toLong)
    }
    assert(code == 0 && counts.exists(_.length == 3), s"child JVM exited $code:\n$out")
    val Seq(cold, _, third) = counts.get.toSeq
    // the cold call compiles q51's classes; at Spark's default cap of 100
    // entries the third call recompiled 32 of them
    assert(cold > 50, s"cold call compiled only $cold classes: ${counts.get.mkString(" ")}")
    assert(third <= 5, s"third call compiled $third classes: ${counts.get.mkString(" ")}")
  }
}

/** Child-JVM side of [[CodegenCacheSpec]]: q51 three times at the given
  * directory in one [[GraftSession]] session; prints the classes each
  * call compiled. */
object WarmCallCompiles {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-warm-codegen")
    val counts = (1 to 3).map { _ =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("q51_dedup_pipeline")(spark, args(0)).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    println(counts.mkString("compiles ", " ", ""))
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main and the test suite build their session through
  * [[GraftSession]], so the plans PlanDump writes, the probe rows and
  * the specs describe the session Bench measures with. Scans the main
  * and test sources for a second factory. */
class SessionFactorySpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def sources(root: Path): Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }
  private def mainSources = sources(mainRoot)

  private val factory = "graft/GraftSession.scala"
  private val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val main = mainSources
    assert(main.exists(_._1 == factory))
    val offenders = main.collect {
      case (f, text) if f != factory && builderCall.findFirstIn(text).isDefined => f
    }
    assert(offenders.isEmpty, s"sessions built outside GraftSession: $offenders")
  }

  test("the suite builds no session of its own: SparkSpec's comes from GraftSession") {
    val test = sources(Paths.get("src/test/scala"))
    assert(test.exists { case (f, text) =>
      f == "graft/SparkSpec.scala" && text.contains("GraftSession.builder(") })
    // this file is skipped: its test names spell the call it looks for
    val offenders = test.collect {
      case (f, text) if f != "graft/SessionFactorySpec.scala" &&
        builderCall.findFirstIn(text).isDefined => f
    }
    assert(offenders.isEmpty, s"test sessions built outside GraftSession: $offenders")
  }

  test("SPARK_GRAFT_CPUS is read in exactly one place, GraftSession") {
    val reads = mainSources.flatMap { case (f, text) =>
      Seq.fill("\"SPARK_GRAFT_CPUS\"".r.findAllMatchIn(text).size)(f)
    }
    assert(reads == Seq(factory), s"SPARK_GRAFT_CPUS read in: $reads")
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession]], so the plans
  * PlanDump writes and the probe rows describe the session Bench
  * measures with. Scans the main sources for a second factory. */
class SessionFactorySpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def mainSources: Seq[(String, String)] = {
    assert(Files.isDirectory(mainRoot), s"no $mainRoot under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => mainRoot.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  private val factory = "graft/GraftSession.scala"

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val sources = mainSources
    assert(sources.exists(_._1 == factory))
    val offenders = sources.collect {
      case (f, text) if f != factory && builderCall.findFirstIn(text).isDefined => f
    }
    assert(offenders.isEmpty, s"sessions built outside GraftSession: $offenders")
  }

  test("SPARK_GRAFT_CPUS is read in exactly one place, GraftSession") {
    val reads = mainSources.flatMap { case (f, text) =>
      Seq.fill("\"SPARK_GRAFT_CPUS\"".r.findAllMatchIn(text).size)(f)
    }
    assert(reads == Seq(factory), s"SPARK_GRAFT_CPUS read in: $reads")
  }
}

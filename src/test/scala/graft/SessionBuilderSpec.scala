package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the single session builder against regrowth: outside
  * `graft/Session.scala`, no source under `src/main` or `src/test` may
  * build its own session, so the conf contract has one copy. */
class SessionBuilderSpec extends AnyFunSuite {
  test("only graft.Session calls the Spark session builder") {
    val call = raw"SparkSession\s*\.\s*builder".r
    val sources = Seq("src/main", "src/test").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".scala") || n.endsWith(".java")
      }.toList finally walk.close()
    }
    val builders = sources.filter(p => call.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
    assert(builders == Seq("src/main/scala/graft/Session.scala"),
      s"session built outside graft.Session: ${builders.mkString(", ")}")
  }
}

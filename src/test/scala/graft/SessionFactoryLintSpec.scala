package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the one place a session is built or its confs are set:
  * no other source under src/main or src/test calls the Spark builder.
  */
class SessionFactoryLintSpec extends AnyFunSuite {
  test("SparkSession builder calls appear only in GraftSession.scala") {
    val call = "SparkSession" + ".builder"
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)), "run from the repo root")
    val offenders = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.toList finally walk.close()
    }.filter { p =>
      p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala" &&
        Files.readString(p).contains(call)
    }
    assert(offenders.isEmpty, s"$call outside GraftSession.scala: ${offenders.mkString(", ")}")
  }
}

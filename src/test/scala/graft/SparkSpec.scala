package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are
  * sequential under sbt's forked test JVM), rebuilt when a suite has
  * stopped its context.
  */
object TestSpark {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped)
      // checkpoint-file checksums guard against corruption on real
      // cluster filesystems; over local /tmp they only multiply file ops,
      // and each extra rename forks a `readlink` subprocess through
      // Hadoop's RawLocalFileSystem — observed to stall a stateful-
      // timeout commit for 15+ minutes in this JVM. Tests don't need
      // corruption detection; production sessions keep the default.
      session = GraftSession.local(4,
        Seq("spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false"))
    session
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestSession {
  /** A fresh temp dir that is deleted, with everything in it, when the
    * test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.gates.GateSupport.sessionTempDir(prefix))

  lazy val spark: SparkSession = Session.local("graft-test", cores = 4,
    warehouseDir = Some(tempDir("graft_wh").toString))
}

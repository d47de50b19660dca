package graft

/** One shared local SparkSession for the whole test JVM. */
object SparkTestSession {
  lazy val spark = graft.core.Session.local(4)
  val sfDir = "/root/testdata/sf0.001"
}

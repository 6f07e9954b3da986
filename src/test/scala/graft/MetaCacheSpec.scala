package graft.pipeline

/** A local filesystem whose directory listing fails with an unchecked
  * exception, as some object-store clients do on a throttled or torn
  * listing. */
class ListFailingFileSystem
    extends org.apache.hadoop.fs.FilterFileSystem(
      new org.apache.hadoop.fs.RawLocalFileSystem) {
  override def getScheme: String = "listfail"
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    throw new RuntimeException(s"injected listStatus failure: $p")
}

class MetaCacheSpec extends graft.SparkTestBase {

  test("a listing failure of any non-fatal kind falls through to the uncached read") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.listfail.impl", classOf[ListFailingFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_metacache")
    val meta = s"listfail://$dir/meta"
    assert(MetaCache.cached(spark, meta)("first") == "first")
    // nothing was cached under a failed stamp: every read loads afresh
    assert(MetaCache.cached(spark, meta)("second") == "second")
  }
}

package graft

import java.net.URI

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs}

/** One session factory: the gate (Verify), the end-to-end timing pass
  * (Bench) and the library's `Sessions.local` build the same session.
  */
class SessionsSpec extends AnyFunSuite {

  /** Build a session alone in this JVM and read its shape: master, SQL
    * confs, and the `file:` classes of both Hadoop APIs.
    */
  private def shape(build: => SparkSession): (String, Map[String, String], Seq[Class[_]]) = {
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession).foreach(_.stop())
    val s = build
    try {
      val hconf = s.sparkContext.hadoopConfiguration
      (s.sparkContext.master, s.conf.getAll.filter(_._1.startsWith("spark.sql.")),
        Seq(FileSystem.get(URI.create("file:///"), hconf).getClass,
          FileContext.getFileContext(hconf).getDefaultFileSystem.getClass))
    } finally s.stop()
  }

  test("Bench, Verify and Sessions.local build the same session") {
    val local = shape(Sessions.local(2, 2))
    assert(shape(Bench.session(2)) == local)
    assert(shape(Verify.session(2)) == local)
    val (master, sql, fs) = local
    assert(master == "local[2]")
    assert(sql("spark.sql.session.timeZone") == "UTC")
    assert(sql("spark.sql.shuffle.partitions") == "2")
    assert(sql("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(fs == Seq(classOf[NioLocalFileSystem], classOf[NioLocalFs]))
  }
}

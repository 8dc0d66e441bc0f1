package graft.server

import graft.api.Engine

/** CLI launcher for [[GraftServer]] — the `launch.py:12-21` analogue.
  *
  * {{{
  *   GRAFT_ROOT=/data/graft GRAFT_PORT=8265 sbt "runMain graft.server.Serve"
  * }}}
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val root = sys.env.getOrElse("GRAFT_ROOT",
      s"${System.getProperty("java.io.tmpdir")}/graft_root_serve")
    val port = sys.env.getOrElse("GRAFT_PORT", "8265").toInt
    val host = sys.env.getOrElse("GRAFT_HOST", "127.0.0.1")
    val spark = graft.BenchSession.create()
    spark.sparkContext.setLogLevel("WARN")
    val server = new GraftServer(new Engine(spark, root), host, port).start()
    println(s"graft server listening on $host:${server.boundPort} (root=$root)")
    Thread.currentThread().join()
  }
}

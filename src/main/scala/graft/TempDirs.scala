package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.DataFrame

/** Per-invocation scratch directories with ONE JVM-wide cleanup hook
  * (ADVICE r15: a shutdown hook registered per call accumulates
  * unboundedly in a long-lived bench/server process). Callers get a
  * fresh directory per invocation — two concurrent runs on the same
  * corpus must never overwrite each other's state mid-read — and
  * either delete it themselves once the result is materialized
  * ([[delete]]) or leave it to the single shared exit hook, which
  * drains whatever is still registered. Deleting early also
  * unregisters, so the exit-time list only holds live dirs. */
object TempDirs {
  private val live = new ConcurrentLinkedQueue[Path]()
  // one hook for the whole JVM, installed on first use
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = live.poll()
      while (p != null) { rm(p); p = live.poll() }
    }))
  }

  private def rm(p: Path): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go)); f.delete(); ()
    }
    go(p.toFile)
  }

  /** Fresh temp directory, registered with the shared exit hook. */
  def create(prefix: String): Path = {
    hook
    val p = Files.createTempDirectory(prefix)
    live.add(p)
    p
  }

  /** Delete a registered directory NOW (the caller has materialized
    * everything that read from it) and drop it from the exit list. */
  def delete(p: Path): Unit = {
    live.remove(p)
    rm(p)
  }

  /** Run `body` over a fresh directory and return its result COLLECTED
    * and re-lifted, deleting the directory before returning: every
    * lazy read of the directory is forced first, so repeated calls in
    * a long-lived process hold no disk. Only for results bounded by
    * construction — every row is collected into this JVM. */
  def collected(prefix: String)(body: String => DataFrame): DataFrame = {
    val tmp = create(prefix)
    try {
      val out = body(tmp.toString)
      val rows = out.collect()
      import scala.jdk.CollectionConverters._
      out.sparkSession.createDataFrame(rows.toSeq.asJava, out.schema)
    } finally delete(tmp)
  }
}

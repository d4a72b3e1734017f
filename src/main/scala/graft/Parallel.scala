package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Runs independent thunks on one fresh thread each and waits for ALL of
  * them, so a failure never hands control back while a sibling is still
  * running (say, still writing into a directory the caller hands back).
  * The earliest failure is rethrown with the later ones suppressed. The
  * threads are created by the caller, so they inherit its Spark local
  * properties (job description, scheduler pool).
  */
object Parallel {
  def all[T](threadName: String, thunks: Seq[() => T]): Seq[T] = {
    val out      = new Array[Any](thunks.size)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => {
        try out(i) = t()
        catch { case e: Throwable => failures.add(e) }
      }, s"$threadName-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    failures.asScala.toList match {
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case Nil => out.toSeq.asInstanceOf[Seq[T]]
    }
  }
}

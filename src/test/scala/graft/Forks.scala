package graft

import java.nio.file.Files
import java.time.Instant
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes this JVM starts, recorded with JFR's `jdk.ProcessStart`
  * event: a count that does not depend on the host's speed. */
object Forks {
  /** One started process: when, from which thread, and the program's
    * file name. */
  final case class Fork(at: Instant, thread: String, program: String, command: String)

  def during[T](body: => T): (T, Seq[Fork]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(file)
      val forks = RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
        val command = e.getString("command")
        Fork(e.getStartTime, Option(e.getThread).map(_.getJavaName).getOrElse(""),
          command.split(" ").head.split('/').last, command)
      }
      (out, forks.sortBy(_.at))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }
}

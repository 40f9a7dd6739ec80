package graft

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import scala.jdk.CollectionConverters._

/** The processes this JVM starts while a block runs, from an in-process
  * flight recording of `jdk.ProcessStart` events. */
object ProcessStarts {

  /** One process start: its command line and the id of the Java thread
    * that started it. */
  final case class Start(command: String, threadId: Long) {
    /** The program's file name (`chmod`, `readlink`, `ls`, ...). */
    def program: String =
      command.trim.split("\\s+").headOption.map(_.split('/').last).getOrElse("")
  }

  def during[T](body: => T): (T, Seq[Start]) = {
    val rec = new Recording()
    val file = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = body
      rec.stop()
      rec.dump(file)
      val starts = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Start(e.getString("command"),
          Option(e.getThread).map(_.getJavaThreadId).getOrElse(-1L)))
      (out, starts)
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }
}

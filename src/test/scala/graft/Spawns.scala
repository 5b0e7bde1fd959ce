package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Processes the JVM starts, counted per command from JFR's
  * `jdk.ProcessStart` events: a count that the machine's load cannot move.
  * Every thread's spawns count, Spark's background threads included, so
  * callers assert on the commands they care about.
  */
object Spawns {

  /** `body`'s result and the processes started while it ran, per program
    * name (`chmod`, `readlink`, `rm`, ...). */
  def during[T](body: => T): (T, Map[String, Int]) = {
    val rec = new Recording()
    val dump = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(dump)
      val programs = RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(e => Paths.get(e.getString("command").trim.split("\\s+")(0)).getFileName.toString)
      (out, programs.groupBy(identity).map { case (p, s) => p -> s.size })
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}

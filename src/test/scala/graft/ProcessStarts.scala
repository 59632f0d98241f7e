package graft

import scala.jdk.CollectionConverters._

/** The child processes this JVM starts while a block runs, from an
  * in-process JFR recording of `jdk.ProcessStart` with stack traces. */
object ProcessStarts {

  /** @param command the command line
    * @param frames the starting thread's stack, innermost first, as
    *   `class.method` */
  final case class Start(command: String, frames: Seq[String]) {
    /** Started through Hadoop's `Shell` (`chmod`, `readlink`, `ls -ld`
      * of a local filesystem without libhadoop). */
    def hadoopShell: Boolean = frames.exists(_.startsWith("org.apache.hadoop.util.Shell"))
  }

  /** `body`'s result and the processes started while it ran (by any
    * thread). Recording stops even if `body` throws. */
  def during[T](body: => T): (T, Seq[Start]) = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      val file = java.nio.file.Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(file)
        (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart").map { e =>
            Start(e.getString("command"),
              Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(f =>
                s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
          })
      } finally java.nio.file.Files.deleteIfExists(file)
    } finally rec.close()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every streaming query in `src/main` starts, drains and
  * stops through [[streaming.StreamRun]], so a deadline, a stop of
  * every active query or a per-micro-batch lever has one home. No
  * other file may name the memory sink, drain a query or record its
  * state metrics. */
class StreamRunLintSpec extends AnyFunSuite {
  private val runner = "graft/streaming/StreamMetrics.scala"
  private val marks = Seq("format(\"memory\")", "processAllAvailable(",
    "StreamMetrics.record(")

  test("no src/main file but the runner's runs a streaming query itself") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = for {
      f <- files(root) if f.getName.endsWith(".scala")
      rel = root.toPath.relativize(f.toPath).toString
      if rel != runner
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      m <- marks if src.contains(m)
    } yield s"$rel: $m"
    assert(found.isEmpty, found.mkString("run the query through StreamRun instead:\n", "\n", ""))
    assert(new java.io.File(root, runner).isFile, s"runner moved: $runner")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every schema-less parquet read in `src/main` goes
  * through [[Tables.parquet]], so no gate pays Spark's per-read
  * schema-inference job. A read chain `.read[.option/.options/.format
  * (...)]*` ending in `.parquet(` or `.load(` is schema-less parquet
  * unless a `.schema(` breaks the chain or a non-parquet format is
  * named. */
class ParquetReadLintSpec extends AnyFunSuite {
  private val chain =
    """\.read((?:\s*\.\s*(?:option|options|format)\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*(parquet|load)\(""".r

  /** (file under src/main/scala, a fragment of the matched read): the
    * reads that must stay on Spark's reader. Catalog's schema-evolution
    * gate exists to run Spark's own `mergeSchema` across two paths. */
  private val allowed = Set("graft/store/Catalog.scala" -> "mergeSchema")

  test("no src/main file but Tables.scala reads parquet without a schema") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val reads = for {
      f <- files(root) if f.getName.endsWith(".scala")
      rel = root.toPath.relativize(f.toPath).toString
      if rel != "graft/Tables.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      m <- chain.findAllMatchIn(src)
      steps = m.group(1)
      if m.group(2) == "parquet" || steps.contains("format(\"parquet\")") || !steps.contains("format(")
    } yield rel -> m.matched.replaceAll("\\s+", "")
    val (kept, bare) = reads.partition { case (rel, text) =>
      allowed.exists { case (f, frag) => f == rel && text.contains(frag) } }
    assert(bare.isEmpty, bare.mkString("read through Tables.parquet instead:\n", "\n", ""))
    assert(kept.size == allowed.size, s"allow-list entry no longer matches a read: $kept")
  }
}

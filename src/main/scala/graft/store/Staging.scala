package graft.store

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Every directory a gate writes outside the warehouse, by lifetime:
  *
  *  - gate-scoped scratch ([[gateDir]]): checkpoints, sink tables,
  *    replay inputs and export copies one gate run reads and then
  *    drops. [[purgeGateDirs]] deletes them; [[graft.SparkEntry.isolated]]
  *    runs it after every gate, so no run leaves one behind;
  *  - JVM-scoped byte caches ([[jvmDir]]): content that never changes
  *    within a JVM (cached replay inputs, test scratch), deleted
  *    with any remaining gate dirs by one shutdown hook;
  *  - cross-JVM staged generations of a [[Family]] (`canon`,
  *    `embpairs`): once-per-corpus stored artifacts under a per-user
  *    root, keyed by corpus path × content generation, published
  *    atomically and garbage-collected lazily or by [[Family.evict]]. */
object Staging {

  /** One staged-artifact generation under the per-user staging root
    * (see [[report]]): `done` distinguishes published generations from
    * in-flight/abandoned `.build-*` dirs. */
  case class Generation(family: String, name: String, done: Boolean,
      ageMs: Long, bytes: Long)

  /** A stored-artifact family, defined once: `name` prefixes its
    * generations under the root, `table` is the corpus table whose
    * content generation it follows, `paramsKey` the parameters its
    * artifacts are built at (its version suffix is the hand-bumped
    * knob for SEMANTIC changes), and `build` writes the artifacts for
    * (session, corpus dir) into the temp dir it is given. [[ensure]]
    * and [[evict]] both derive the generation key from this one value,
    * so an evict that keeps the current generation can never compute
    * a different key than the ensure that published it. */
  final case class Family(name: String, table: String, paramsKey: String)(
      build: (SparkSession, String, Path) => Unit) {
    /** (family × source path): every generation of `src` starts so. */
    private def prefix(src: java.io.File): String =
      s"$name-${stagingPathKey(name, src)}-"
    private def current(src: java.io.File): String =
      prefix(src) + genKey(src, paramsKey)

    /** The published generation for `dir`'s corpus, built first if
      * absent: idempotent reuse behind a `_DONE` marker, unique-temp-
      * dir build + atomic publish with loser-adopts-winner races,
      * partial-dir cleanup on failure, and deferred GC of superseded
      * generations. */
    def ensure(spark: SparkSession, dir: String): Path = {
      import java.nio.file.StandardCopyOption
      val src = new java.io.File(s"$dir/$table.parquet")
      val gen = current(src)
      val root = stagingRoot
      val out = root.resolve(gen)
      if (Files.exists(out.resolve("_DONE"))) return out
      val tmp = root.resolve(s"$gen.build-${java.util.UUID.randomUUID}")
      Files.createDirectories(tmp)
      try {
        build(spark, dir, tmp)
        Files.createFile(tmp.resolve("_DONE"))
        try Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileSystemException =>
          // a concurrent build won the rename; adopt it if complete,
          // else leave ours under the unique name and use it directly
          if (Files.exists(out.resolve("_DONE"))) { deleteRecursively(tmp); }
          else return tmp
        }
        evictStaleStaging(root, prefix(src), keep = Some(gen),
          minAgeMs = 3600000L)
        out
      } catch { case e: Throwable =>
        // a failed build must not leak its partial dir (the same
        // lifecycle rule purgeGateDirs enforces for gate scratch)
        deleteRecursively(tmp)
        throw e
      }
    }

    /** Explicit staging GC verb — the caller-facing form of the lazy
      * eviction [[ensure]] performs: drop every staged generation of
      * `dir`'s corpus except the current one (or ALL of them with
      * `keepCurrent = false`, e.g. before decommissioning a corpus).
      * Unlike the automatic path this deletes superseded COMPLETED
      * generations immediately — it is an operator's explicit "nothing
      * else is reading these" declaration — while in-flight `.build-*`
      * dirs keep the >1 h age guard (a live concurrent build must never
      * be deleted under itself). */
    def evict(dir: String, keepCurrent: Boolean): Unit = {
      val src = new java.io.File(s"$dir/$table.parquet")
      evictStaleStaging(stagingRoot, prefix(src),
        keep = if (keepCurrent) Some(current(src)) else None, minAgeMs = 0L)
    }
  }

  /** Every staged family, for callers that build or evict them all. */
  def families: Seq[Family] = Seq(graft.operators.Dedup.canonStaging,
    graft.operators.Similarity.embPairStaging)

  // --- gate- and JVM-scoped scratch ----------------------------------------

  private val gateDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private val jvmDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      purgeGateDirs()
      drain(jvmDirs)
    }))
  }

  /** A fresh temp dir that lives until the current gate's reset. */
  def gateDir(prefix: String): Path = register(gateDirs, prefix)

  /** A fresh temp dir that lives until the JVM exits. */
  def jvmDir(prefix: String): Path = register(jvmDirs, prefix)

  private def register(q: java.util.concurrent.ConcurrentLinkedQueue[Path],
      prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    q.add(d)
    d
  }

  /** Delete every gate dir created so far. Callers must only invoke
    * this once in-flight gate results are materialized (every
    * [[graft.SparkEntry.isolated]] caller does, per gate). */
  def purgeGateDirs(): Unit = drain(gateDirs)

  private def drain(q: java.util.concurrent.ConcurrentLinkedQueue[Path]): Unit = {
    var p = q.poll()
    while (p != null) {
      // best effort: a dir that cannot be removed must not fail the gate
      scala.util.Try(deleteRecursively(p))
      p = q.poll()
    }
  }

  // --- cross-JVM staged generations ----------------------------------------

  private def stagingPathKey(family: String, src: java.io.File): String =
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      s"$family:${src.getAbsolutePath}"))

  /** Per-user staging root: `user.name` is folded into the directory
    * name so two users on one host never contend for ownership of a
    * shared world-writable path (the second user's createDirectories
    * would fail on the first's root). */
  private def stagingRoot: Path = {
    val user = Option(System.getProperty("user.name")).getOrElse("anon")
      .filter(_.isLetterOrDigit)
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-canon-staging-$user")
  }

  /** Build-logic fingerprint folded into every staged generation key:
    * a hash of the operator CLASSFILE bytes that produce the staged
    * artifacts (Dedup for the canon family, Similarity for embpairs —
    * one combined fingerprint keyed over both, so a change to either
    * pipeline re-stages both families: over-eager by one cheap build,
    * never stale). The hand-bumped params-version suffixes remain the
    * documented knob for SEMANTIC changes; this closes the silent
    * hole behind them — a code change to minhashCandidates /
    * simhashCandidates / setSimPartsFull / embedNearDupLsh without a
    * manual bump would otherwise keep serving pair tables built by
    * the old code, surfacing only as confusing downstream oracle
    * failures (r11 advice). Classfile bytes are stable within a
    * compile and change with any recompiled logic, which is exactly
    * the invalidation granularity wanted; cost is one staging rebuild
    * per (re)build per corpus, absorbed by the Bench warmup. */
  private[graft] lazy val logicFingerprint: String = {
    def h(res: String): Int = {
      val in = getClass.getResourceAsStream(res)
      if (in == null) 0
      else {
        try scala.util.hashing.MurmurHash3.bytesHash(in.readAllBytes())
        finally in.close()
      }
    }
    val fp = h("/graft/operators/Dedup$.class") ^
      java.lang.Integer.rotateLeft(h("/graft/operators/Similarity$.class"), 16)
    // a classloader that can't serve the bytes of THIS loaded class
    // would silently disable the invalidation — fail loudly instead
    require(fp != 0, "staging logic fingerprint unavailable: operator " +
      "classfile bytes not readable from the classloader")
    Integer.toHexString(fp)
  }

  /** Content-generation key: length + mtime + a first/last-64KB
    * fingerprint (the parquet footer sits in the last block, so ANY
    * rewrite — even same-length within mtime granularity — perturbs
    * it) + the params the staged artifacts were built at + the
    * [[logicFingerprint]] of the code that builds them. */
  private[graft] def genKey(src: java.io.File,
      paramsKey: String): String = {
    val fp = try {
      val raf = new java.io.RandomAccessFile(src, "r")
      try {
        val block = 65536
        val head = new Array[Byte](math.min(block.toLong, raf.length).toInt)
        raf.readFully(head)
        val tail = new Array[Byte](head.length)
        raf.seek(math.max(0L, raf.length - tail.length))
        raf.readFully(tail)
        scala.util.hashing.MurmurHash3.bytesHash(head) ^
          java.lang.Integer.rotateLeft(
            scala.util.hashing.MurmurHash3.bytesHash(tail), 16)
      } finally raf.close()
    } catch { case _: java.io.IOException => 0 }
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      s"${src.length}:${src.lastModified}:$fp:$logicFingerprint:$paramsKey"))
  }

  /** One row per staged generation under the per-user root — the
    * observability half of the staging lifecycle (the root is
    * otherwise invisible: artifacts accrue under the temp dir with
    * lazy >1 h GC, and nothing reported generations or sizes).
    * Driver-side only: lists a LOCAL temp root, bounded by generations
    * on disk. Row: (family, dirName, done, ageMs, bytes) — `done` false
    * means an in-flight or abandoned `.build-*` dir. */
  def report(): Seq[Generation] = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .map(sizeOf).sum
      else f.length()
    val now = System.currentTimeMillis()
    Option(stagingRoot.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq.filter(_.isDirectory)
      .map { d =>
        Generation(
          family = d.getName.takeWhile(_ != '-'),
          name = d.getName,
          done = new java.io.File(d, "_DONE").exists(),
          ageMs = math.max(0L, now - d.lastModified),
          bytes = sizeOf(d))
      }
      .sortBy(g => (g.family, g.name))
  }

  /** Drop superseded staging for one corpus path: completed dirs of
    * other generations once older than `minAgeMs` (the automatic path
    * passes 1 h so a concurrent JVM still reading an older generation
    * is never yanked mid-query; the explicit verb passes 0), and
    * abandoned `.build-*` dirs older than an hour regardless (a LIVE
    * concurrent build is younger; race losers and crash leftovers are
    * not). Never touches other corpora's keys. */
  private def evictStaleStaging(root: Path, prefix: String,
      keep: Option[String], minAgeMs: Long): Unit = {
    val kids = root.toFile.listFiles()
    if (kids == null) return
    val now = System.currentTimeMillis()
    val buildCutoff = now - 3600000L
    kids.iterator
      .filter(_.getName.startsWith(prefix))
      .filter(f => !keep.contains(f.getName))
      .filter(f =>
        if (f.getName.contains(".build-")) f.lastModified < buildCutoff
        else f.lastModified < now - minAgeMs)
      .foreach(f => deleteRecursively(f.toPath))
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}

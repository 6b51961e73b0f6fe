package graft

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.util.{PersistSlots, Scratch}
import org.apache.spark.storage.StorageLevel

/** Lifecycle laws of the engine-owned intermediates: `Scratch.derived`
  * artifacts never serve another corpus's or a superseded input's data and
  * never outlive their JVM; `PersistSlots` releases exactly the holders it
  * should. */
class DerivedArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = Scratch.dir(s"derived_spec_$name")
    Scratch.deleteRecursively(new java.io.File(d))
    d
  }

  private def writeDocs(dir: String, texts: Seq[String]): Unit =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def wordSet(dir: String): Set[String] =
    TextAnalysis.wordCounts(spark, dir).select($"word").as[String].collect().toSet

  private def shingleCount(dir: String): Long = Dedup.shingles(spark, dir).count()

  test("directories that sanitize alike (sf0.1 vs sf0_1) keep separate artifacts") {
    val base = freshDir("sanitize")
    val (dot, underscore) = (s"$base/sf0.1", s"$base/sf0_1")
    writeDocs(dot, Seq("alpha beta gamma delta"))
    writeDocs(underscore, Seq("one two three", "four five six seven eight"))
    // both built before either is read back: a shared path would hold
    // whichever corpus was written last
    val (wDot, wUnd) = (wordSet(dot), wordSet(underscore))
    val (sDot, sUnd) = (shingleCount(dot), shingleCount(underscore))
    assert(wDot === Set("alpha", "beta", "gamma", "delta"))
    assert(wUnd === Set("one", "two", "three", "four", "five", "six", "seven", "eight"))
    assert(wordSet(dot) === wDot && wordSet(underscore) === wUnd)
    assert((sDot, sUnd) === ((2L, 4L)))
    assert(shingleCount(dot) === 2L && shingleCount(underscore) === 4L)
  }

  test("directories with equal String.hashCode (Aa vs BB) keep separate IVF indexes") {
    val base = freshDir("hashcode")
    val (aa, bb) = (s"$base/Aa", s"$base/BB")
    assert(aa.hashCode == bb.hashCode)
    def writeEmb(dir: String, n: Int): Unit =
      (0 until n).map(i => (i.toLong, Seq(1.0f + i, 2.0f, 0.5f * i, 1.0f), i % 2))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    writeEmb(aa, 6)
    writeEmb(bb, 10)
    val (pa, pb) = (Similarity.ensureIvfIndex(spark, aa), Similarity.ensureIvfIndex(spark, bb))
    assert(pa != pb)
    def codes(dir: String): Long =
      Similarity.ivfIndexExpected(spark, dir).filter($"part" === "code").count()
    assert(codes(aa) === 6L)
    assert(codes(bb) === 10L)
  }

  test("rewriting an input in place makes the next consumer rebuild") {
    val dir = freshDir("rewrite")
    writeDocs(dir, Seq("red green blue"))
    assert(wordSet(dir) === Set("red", "green", "blue"))
    assert(shingleCount(dir) === 1L)
    writeDocs(dir, Seq("cyan magenta yellow black", "white"))
    assert(wordSet(dir) === Set("cyan", "magenta", "yellow", "black", "white"))
    assert(shingleCount(dir) === 2L)
  }

  test("an unchanged input is built once and then served from its artifact") {
    val dir = freshDir("reuse")
    writeDocs(dir, Seq("x y z"))
    var builds = 0
    def get() = Scratch.derived(spark, "spec_reuse", dir,
        Seq(graft.sources.Tables.path(dir, "documents"))) { out =>
      builds += 1
      Seq(1L).toDF("n").write.parquet(out)
    }
    val p = get()
    assert(get() === p)
    assert(builds === 1)
    assert(p.startsWith(new java.io.File(Scratch.dir("probe")).getParent))
  }

  test("a second JVM gets its own scratch root, so no artifact outlives its process") {
    val here = new java.io.File(Scratch.dir("probe")).getParent
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val proc = new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
        "graft.ScratchRootProbe")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString.trim
    assert(proc.waitFor() === 0, out)
    val there = out.linesIterator.toSeq.last
    try {
      assert(new java.io.File(there).isDirectory, out)
      assert(there != here)
    } finally Scratch.deleteRecursively(new java.io.File(there))
  }

  test("PersistSlots releases a different-plan holder and keeps an equal-plan one") {
    val slots = new PersistSlots
    def plan(n: Long) = spark.range(n).toDF("id")
    def cached(n: Long) = plan(n).storageLevel != StorageLevel.NONE
    slots.swap("s", plan(10))
    assert(cached(10))
    // equal plan: the new holder IS the old cache entry, which must stay
    slots.swap("s", plan(10))
    assert(cached(10))
    // different plan: the previous entry goes
    slots.swap("s", plan(20))
    assert(!cached(10) && cached(20))
    slots.release("s")
    assert(!cached(20))
  }
}

/** Prints this JVM's scratch root (the parent of any `Scratch.dir`). */
object ScratchRootProbe {
  def main(args: Array[String]): Unit =
    println(new java.io.File(Scratch.dir("probe")).getParent)
}

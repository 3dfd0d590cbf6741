package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sinks.AtomicSwap

/** The manifest swap protocol must leave the store equivalent to the completed swap
  * from EVERY crash point — enumerated exhaustively, not sampled: after the tmp
  * write, after the manifest, after each rename, after each delete, and after the
  * final tmp drop. */
class AtomicSwapSpec extends SparkSpec {

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def touch(f: FileSystem, p: Path, content: String = "x"): Unit = {
    val out = f.create(p, true); out.write(content.getBytes("UTF-8")); out.close()
  }

  /** Build a store with old data files A,B and a complete tmp rewrite N1,N2 +
    * manifest. Returns (fs, store, oldNames, newTargets). */
  private def freshSwap(tag: String): (FileSystem, Path, Seq[String], Seq[(String, String)]) = {
    val store = new Path(Files.createTempDirectory(s"graft-swap-$tag").toString)
    val f = fs(store)
    val olds = Seq("part-old-a.parquet", "part-old-b.parquet")
    olds.foreach(n => touch(f, new Path(store, n), s"old-$n"))
    touch(f, new Path(store, "_batch_7")) // markers must survive every outcome
    val tmp = new Path(store, AtomicSwap.TmpName)
    f.mkdirs(tmp)
    val news = Seq("part-new-1.parquet", "part-new-2.parquet")
    news.foreach(n => touch(f, new Path(tmp, n), s"new-$n"))
    touch(f, new Path(tmp, "_SUCCESS"), "")
    val renames = news.sorted.zipWithIndex.map { case (n, i) => (n, s"compact-$i-$n") }
    val manifest = (renames.map { case (s, d) => s"MV $s $d" } ++
      olds.map(n => s"RM $n")).mkString("", "\n", "\n")
    touch(f, new Path(tmp, AtomicSwap.ManifestName), manifest)
    (f, store, olds, renames)
  }

  private def stateOf(f: FileSystem, store: Path): Set[String] =
    f.listStatus(store).map(_.getPath.getName).filterNot(_ == AtomicSwap.TmpName).toSet

  test("finishSwap converges to the same store from every crash point in the manifest order") {
    // the completed swap: new files at their targets, olds gone, marker intact
    val (f0, s0, _, renames0) = freshSwap("ref")
    AtomicSwap.finishSwap(f0, s0)
    val want = renames0.map(_._2).toSet + "_batch_7"
    assert(stateOf(f0, s0) == want, s"reference swap wrong: ${stateOf(f0, s0)}")

    // crash points: k renames executed (0..2), then j deletes executed (0..2)
    for (k <- 0 to 2; j <- 0 to 2) {
      val (f, store, olds, renames) = freshSwap(s"k$k-j$j")
      val tmp = new Path(store, AtomicSwap.TmpName)
      renames.take(k).foreach { case (src, dst) =>
        f.rename(new Path(tmp, src), new Path(store, dst))
      }
      olds.take(j).foreach(n => f.delete(new Path(store, n), false))
      AtomicSwap.finishSwap(f, store)
      assert(stateOf(f, store) == want, s"crash point k=$k j=$j diverged: ${stateOf(f, store)}")
      assert(!f.exists(tmp), s"tmp must be dropped at k=$k j=$j")
      // and the replay of the replay is a no-op
      AtomicSwap.finishSwap(f, store)
      assert(stateOf(f, store) == want, s"second replay at k=$k j=$j not idempotent")
    }
  }

  test("crash before the manifest discards the tmp and keeps old data untouched") {
    val (f, store, olds, _) = freshSwap("pre-manifest")
    val tmp = new Path(store, AtomicSwap.TmpName)
    f.delete(new Path(tmp, AtomicSwap.ManifestName), false)
    // ALSO the legacy complete-tmp form (with _SUCCESS, holding parquets): that is
    // the old protocol's authoritative-rewrite window — swap must finish old-style,
    // so remove _SUCCESS too to model a genuinely incomplete write
    f.delete(new Path(tmp, "_SUCCESS"), false)
    AtomicSwap.finishSwap(f, store)
    assert(stateOf(f, store) == olds.toSet + "_batch_7")
    assert(!f.exists(tmp))
  }

  test("legacy windows: complete tmp with parquets finishes old-style; with zero parquets drops tmp only") {
    // complete tmp (no manifest) holding the rewrite — old-protocol mid-swap
    val (f, store, olds, renames) = freshSwap("legacy-full")
    val tmp = new Path(store, AtomicSwap.TmpName)
    f.delete(new Path(tmp, AtomicSwap.ManifestName), false)
    AtomicSwap.finishSwap(f, store)
    val got = stateOf(f, store)
    assert(got == renames.map(_._2).toSet + "_batch_7", s"legacy finish wrong: $got")
    // complete tmp with ZERO parquets — the ADVICE r9 #1 silent-empty window
    val (f2, store2, olds2, _) = freshSwap("legacy-empty")
    val tmp2 = new Path(store2, AtomicSwap.TmpName)
    f2.delete(new Path(tmp2, AtomicSwap.ManifestName), false)
    f2.listStatus(tmp2).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(s => f2.delete(s.getPath, false))
    AtomicSwap.finishSwap(f2, store2)
    assert(stateOf(f2, store2) == olds2.toSet + "_batch_7",
      "a finished-swap tmp must never delete surviving data files")
    assert(!f2.exists(tmp2))
  }

  test("a failed rename stops the swap before any delete; the next finish completes it") {
    val (f, store, olds, renames) = freshSwap("rename-fails")
    intercept[java.io.IOException](AtomicSwap.finishSwap(renamesFailAfter(f, 0)(false), store))
    assert(stateOf(f, store) == olds.toSet + "_batch_7", "old data must survive a failed rename")
    assert(f.exists(new Path(new Path(store, AtomicSwap.TmpName), AtomicSwap.ManifestName)))
    AtomicSwap.finishSwap(f, store)
    assert(stateOf(f, store) == renames.map(_._2).toSet + "_batch_7")
  }

  test("a kill while finishing a complete manifest-less tmp loses nothing on the next finish") {
    val (f, store, _, renames) = freshSwap("legacy-killed")
    f.delete(new Path(new Path(store, AtomicSwap.TmpName), AtomicSwap.ManifestName), false)
    intercept[IllegalStateException](AtomicSwap.finishSwap(
      renamesFailAfter(f, 1)(throw new IllegalStateException("killed")), store))
    AtomicSwap.finishSwap(f, store)
    assert(stateOf(f, store) == renames.map(_._2).toSet + "_batch_7")
  }
}

package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Crash-safe tmp→store swap for parquet directories rewritten in place: the incremental
 * stores' compactions ([[graft.streaming.BatchState.rewrite]]) and the CDC staging tables'
 * `retype`/`compact` ([[graft.operators.StagingCatalog]]) — any "part files + underscore
 * markers" directory.
 *
 * Protocol (single-writer discipline, as documented on the stores):
 *   1. the caller writes the full rewrite under `<store>/_compact_tmp` (a Spark
 *      parquet write — `_SUCCESS` lands last);
 *   2. [[commitSwap]] records a `_MANIFEST` inside the tmp: the rename plan
 *      (tmp file → unique target name) plus the EXACT pre-existing data files to
 *      delete;
 *   3. the manifest executes rename-first: new files move to their unique targets,
 *      THEN the listed old files are deleted, then the tmp is dropped.
 *
 * Every crash point replays safely through [[finishSwap]] (run on every store read):
 *   - no manifest yet → nothing destructive has happened (the manifest is written
 *     only after the tmp parquet completes) → an incomplete tmp is discarded, old data
 *     intact; a complete one holds the full rewrite and is committed afresh (below);
 *   - crash mid-rename → rename is atomic, so each entry's src and dst never both
 *     exist; re-execution skips done entries (src gone) and finishes the rest;
 *   - crash mid-delete → deletes are by explicit manifest name, idempotent, and can
 *     never hit this swap's own new files (targets are unique per swap — part-file
 *     names carry a fresh write UUID);
 *   - crash before the final tmp drop with everything else done (the ADVICE r9 #1
 *     window: a tmp holding only `_SUCCESS`) → the manifest (or the legacy
 *     zero-parquet rule below) replays as no-ops and the tmp is dropped — the store
 *     is NEVER emptied.
 *
 * Legacy (pre-manifest) tmps — a crash under the old delete-old-then-rename-in
 * ordering, then an upgrade — are disambiguated conservatively: a complete tmp
 * (`_SUCCESS`) that still HOLDS parquet files is the old mid-swap window and the tmp
 * is the authoritative full rewrite, committed through [[commitSwap]] so that a kill
 * while finishing it replays like any manifest swap; a complete tmp with ZERO
 * parquet files means the swap already finished and only the tmp drop was lost —
 * delete the tmp only, never the data files.
 */
object AtomicSwap {
  val TmpName = "_compact_tmp"
  val ManifestName = "_MANIFEST"

  /** The store's current top-level data files (non-underscore, non-dot). */
  def dataFileNames(fs: FileSystem, store: Path): Seq[String] =
    fs.listStatus(store).toSeq.collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getPath.getName
    }

  /** Step 2+3: given a COMPLETE rewrite under `<store>/_compact_tmp`, record the
    * swap manifest and execute it. */
  def commitSwap(fs: FileSystem, store: Path): Unit = {
    val tmp = new Path(store, TmpName)
    val olds = dataFileNames(fs, store)
    val news = fs.listStatus(tmp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
      .zipWithIndex.map { case (n, i) => (n, s"compact-$i-$n") }
    val body = (news.map { case (src, dst) => s"MV $src $dst" } ++
      olds.map(n => s"RM $n")).mkString("", "\n", "\n")
    val out = fs.create(new Path(tmp, ManifestName), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    finishSwap(fs, store)
  }

  /** Recovery + completion: execute (or re-execute) whatever swap state the store's
    * tmp dir is in. No-op when no tmp exists. Safe to run on every read. */
  def finishSwap(fs: FileSystem, store: Path): Unit = {
    val tmp = new Path(store, TmpName)
    if (!fs.exists(tmp)) return
    val mf = new Path(tmp, ManifestName)
    if (fs.exists(mf)) {
      val lines = readLines(fs, mf)
      lines.collect { case l if l.startsWith("MV ") =>
        val Array(src, dst) = l.drop(3).split(" ", 2)
        val s = new Path(tmp, src)
        // a failed rename must stop the swap before the deletes: the manifest stays for
        // the next read to finish
        if (fs.exists(s) && !fs.rename(s, new Path(store, dst)))
          throw new java.io.IOException(s"swap into $store: rename of $s failed")
      }
      lines.collect { case l if l.startsWith("RM ") =>
        val f = new Path(store, l.drop(3))
        if (fs.exists(f)) fs.delete(f, false): Unit
      }
      fs.delete(tmp, true): Unit
    } else if (fs.exists(new Path(tmp, "_SUCCESS")) && fs.listStatus(tmp).exists(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet")))
      commitSwap(fs, store) // a complete rewrite is authoritative
    else {
      // an incomplete rewrite, or (zero parquets) an already-finished legacy swap whose
      // tmp drop was lost: deleting data files there was the ADVICE r9 #1 silent-empty
      // bug — drop the tmp ONLY
      fs.delete(tmp, true): Unit
    }
  }

  private def readLines(fs: FileSystem, f: Path): Seq[String] = {
    val in = fs.open(f)
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      Iterator.continually(r.readLine()).takeWhile(_ != null).filter(_.nonEmpty).toList
    } finally in.close()
  }
}

/**
 * Crash-safe replacement of one small local file (manifests, `state.json`, the schema
 * registry, signal files, spool files): the text lands in a dot-prefixed sibling tmp
 * file, which is then renamed over the target in one atomic step. A reader, or the next
 * run after a kill, sees the old content or the new one, never a torn file.
 */
object AtomicFile {
  def write(path: String, text: String): Unit = {
    val target = Paths.get(path)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}

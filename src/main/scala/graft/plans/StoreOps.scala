package graft.plans

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Shared mechanics of every persisted store (the IVF / IVF-PQ
  * stores, the LSH dedup index, the span fp index, compacted tables):
  * the as-of partition cut and the ONE crash-safe write sequence,
  * stage → stamp → swap → recover. These are SEMANTICS-BEARING
  * devices — crash-replay safety of every store verb rests on exactly
  * this ordering — so they live in one place instead of per-store
  * copies that could drift.
  *
  * The protocol, for a group of live dirs `d1..dn` (`d1` first):
  *  1. stage: each new dir is written whole to `stagePath(di)`, with
  *     its contract stamp (if any) inside it; a stale stage from an
  *     earlier attempt is dropped first, so a stage that exists once
  *     staging is over is complete;
  *  2. swap: delete `d1..dn` (the delete of `d1` is the COMMIT POINT —
  *     every stage is complete before it), delete the retired paths,
  *     then rename the stages in, `d1` last;
  *  3. recover: if `d1` is missing and its stage exists, the crash hit
  *     after the commit point — finish the swap; otherwise the crash
  *     hit before it — discard the stages. No marker file is needed:
  *     `d1` is missing exactly between the commit and the end of the
  *     swap.
  * Single-writer and offline, like every store verb here.
  */
object StoreOps {

  /** Keep a `batch=<v>` partition iff it is the seed/compacted (any
    * non-numeric name: try_cast → NULL → coalesce true) or a numeric
    * id STRICTLY earlier than `batchId` — what makes replaying a
    * crashed batch read exactly what the first attempt read (no
    * self-matching, no time travel).
    */
  def asOfBatch(batchId: Long): Column =
    coalesce(expr("try_cast(batch AS BIGINT)") < lit(batchId), lit(true))

  private def fsOf(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  def exists(s: SparkSession, p: String): Boolean = fsOf(s, p).exists(new Path(p))

  /** The entries of dir `p`; none when it does not exist. */
  def list(s: SparkSession, p: String): Seq[FileStatus] =
    if (exists(s, p)) fsOf(s, p).listStatus(new Path(p)).toSeq else Nil

  /** Recursive delete; a missing path is not an error (and not a
    * filesystem mutation).
    */
  def delete(s: SparkSession, p: String): Unit =
    if (exists(s, p)) fsOf(s, p).delete(new Path(p), true)

  /** Create dir `p` and any missing parents. */
  def mkdirs(s: SparkSession, p: String): Unit = fsOf(s, p).mkdirs(new Path(p))

  /** Checked rename — a rename that reports failure throws. */
  def move(s: SparkSession, from: String, to: String): Unit =
    require(fsOf(s, from).rename(new Path(from), new Path(to)),
      s"rename failed: $from -> $to")

  private def readText(s: SparkSession, p: String): Option[String] =
    if (!exists(s, p)) None
    else {
      val in = fsOf(s, p).open(new Path(p))
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }

  /** Where `dst` is staged: `<dst>._tmp`. A partition dir (`k=v`)
    * stages as `.<k=v>._tmp` instead: partition discovery of the table
    * around it skips dot-names, so it never reads a half-written stage.
    */
  def stagePath(dst: String): String = {
    val p = new Path(dst)
    if (p.getName.contains("="))
      new Path(p.getParent, s".${p.getName}._tmp").toString
    else s"$dst._tmp"
  }

  /** A store's contract stamp: the file inside the store dir, the name
    * refusals print, the value this build writes and expects, and
    * the remedy a refusal names.
    */
  final case class Stamp(file: String, label: String, value: String,
                         remedy: String)

  /** Stage and stamp: drop any stale stage, `write` the new dir to the
    * stage path it is given, then write the stamp inside it.
    */
  def stage(s: SparkSession, dst: String, stamp: Option[Stamp] = None)
           (write: String => Unit): Unit = {
    val tmp = stagePath(dst)
    delete(s, tmp)
    write(tmp)
    stamp.foreach(writeStamp(s, tmp, _))
  }

  /** Write stamp `st` into dir `dir`. */
  def writeStamp(s: SparkSession, dir: String, st: Stamp): Unit = {
    val out = fsOf(s, dir).create(new Path(dir, st.file), true)
    try out.write(st.value.getBytes("UTF-8")) finally out.close()
  }

  /** Swap the staged `group` into place (see the protocol above); the
    * `retire` paths die with the old generation, after the commit.
    */
  def swap(s: SparkSession, group: Seq[String],
           retire: Seq[String] = Nil): Unit = {
    group.foreach(d => require(exists(s, stagePath(d)),
      s"swap: no staged dir for $d"))
    group.foreach(delete(s, _))
    retire.foreach(delete(s, _))
    group.reverse.foreach(d => move(s, stagePath(d), d))
  }

  /** Bring `group` back to a committed state after a crash: finish
    * the swap when its first dir is missing beside a stage, else drop
    * the stages. Idempotent.
    */
  def recover(s: SparkSession, group: Seq[String],
              retire: Seq[String] = Nil): Unit = {
    val staged = group.filter(d => exists(s, stagePath(d)))
    if (!exists(s, group.head) && staged.contains(group.head)) {
      staged.foreach(delete(s, _))
      retire.foreach(delete(s, _))
      staged.reverse.foreach(d => move(s, stagePath(d), d))
    } else staged.foreach(d => delete(s, stagePath(d)))
  }

  /** The dir a reader should open for `dst`: the live dir, or — in the
    * window after a swap's commit point — its complete stage.
    */
  def readable(s: SparkSession, dst: String): String =
    if (!exists(s, dst) && exists(s, stagePath(dst))) stagePath(dst) else dst

  /** Check `dir`'s stamp against the caller's: refuse a contradiction,
    * warn on absence (a pre-stamp store). Returns whether it was there.
    */
  def checkStamp(s: SparkSession, dir: String, st: Stamp): Boolean =
    readText(s, s"$dir/${st.file}") match {
      case Some(v) =>
        require(v == st.value,
          s"refusing to use $dir: stamped ${st.label}=$v but this call " +
            s"runs ${st.label}=${st.value} — ${st.remedy}")
        true
      case None =>
        System.err.println(s"[graft] WARN: $dir carries no ${st.file} " +
          s"stamp (pre-stamp store); assuming ${st.label}=${st.value}")
        false
    }

  /** Build guard: a build writes a whole new store, so it never runs
    * over an existing one (a partial rebuild would pair old rows with
    * new sidecars or a fresh stamp).
    */
  def requireAbsent(s: SparkSession, dir: String, what: String,
                    remedy: String): Unit =
    require(!exists(s, dir),
      s"refusing to build over an existing $what at $dir — $remedy")

  private val builtStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The from-store device: build a `kind` store for source `key` ONCE
    * per JVM under a fresh temp dir and return its path.
    */
  def buildOnce(kind: String, key: String)(build: String => Unit): String =
    builtStores.computeIfAbsent(s"$kind|$key", _ => {
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-$kind").toString + "/idx"
      build(out)
      out
    })
}

package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** One directory of commit entries — the exactly-once protocol every
  * at-rest store shares (the sink's manifests, the bucket stores' markers,
  * the stream packer's cursors, the gram index's epochs):
  *
  *   - an ENTRY `id` is one small file; publishing writes `.tmp-<name>` and
  *     renames it in, so the rename is the commit point and a crash leaves
  *     either no entry or a whole one. An entry that already exists is kept
  *     (a replay re-publishes identical content; delete-then-rename would
  *     open a window where a reader sees the id uncommitted);
  *   - an EPOCH `e` folds every entry ≤ e into one file, published the same
  *     way; the highest epoch is the FLOOR, and entries at or below it are
  *     redundant (readers skip them, `retire` deletes them);
  *   - readers take the live ids and the floor from ONE directory listing.
  *     Temp names never parse, so a listing taken mid-publish is safe.
  *
  * Entry and epoch file names are each store's on-disk format, fixed in
  * code (`CommitLog.Name`); what a body holds is the store's business.
  */
final class CommitLog(fs: FileSystem, val dir: Path, entryName: CommitLog.Name,
    epochName: Option[CommitLog.Name] = None) {

  def entry(id: Long): Path = new Path(dir, entryName(id))

  def epoch(e: Long): Path = new Path(dir, epochName.get(e))

  /** Every entry and epoch on disk, from one listing (empty when the
    * directory does not exist yet).
    */
  def state(): CommitLog.State = {
    val names = try fs.listStatus(dir).map(_.getPath.getName).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val epochs = epochName.fold(Seq.empty[Long])(n => names.flatMap(n.unapply))
    CommitLog.State(names.flatMap(entryName.unapply).sorted, epochs.sorted)
  }

  /** An id is committed when its entry exists or an epoch covers it. */
  def isCommitted(id: Long): Boolean =
    fs.exists(entry(id)) || (epochName.nonEmpty && state().floor.exists(id <= _))

  def read(p: Path): String = FsText.readText(fs, p)

  def publish(id: Long, body: String): Unit = put(entry(id), body)

  def publishEpoch(e: Long, body: String): Unit = put(epoch(e), body)

  private def put(p: Path, body: String): Unit =
    if (!fs.exists(p)) FsText.writeAtomic(fs, p, body)

  /** Delete the entries at or below `floor` and the epochs below it, as
    * listed in `s`. A crash part-way leaves files readers already skip.
    */
  def retire(floor: Long, s: CommitLog.State): Unit = {
    s.entries.filter(_ <= floor).foreach(id => fs.delete(entry(id), false))
    s.epochs.filter(_ < floor).foreach(e => fs.delete(epoch(e), false))
  }
}

object CommitLog {

  /** A file name `<prefix><id><suffix>`, the id zero-padded to `width`
    * digits (0 = unpadded).
    */
  final case class Name(prefix: String, width: Int = 0, suffix: String = "") {
    def apply(id: Long): String =
      prefix + (if (width > 0) s"%0${width}d".format(id) else id.toString) + suffix

    def unapply(name: String): Option[Long] =
      if (name.length <= prefix.length + suffix.length ||
          !name.startsWith(prefix) || !name.endsWith(suffix)) None
      else {
        val digits = name.substring(prefix.length, name.length - suffix.length)
        if (digits.length <= 18 && digits.forall(c => c >= '0' && c <= '9'))
          Some(digits.toLong)
        else None
      }
  }

  /** A listing: every entry id and epoch on disk, ascending. */
  final case class State(entries: Seq[Long], epochs: Seq[Long]) {
    def floor: Option[Long] = epochs.lastOption

    /** Entry ids above the floor. */
    def live: Seq[Long] = entries.filter(id => floor.forall(id > _))

    /** The highest committed id, −1 if none; unlike `live.size` it never
      * drops when an epoch folds entries away.
      */
    def highest: Long = (entries ++ floor).foldLeft(-1L)(math.max)
  }
}

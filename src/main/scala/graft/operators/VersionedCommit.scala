package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * THE versioned-dir commit protocol, shared by [[VectorStore]] and
 * [[PostingIndex]] (VERDICT r15 next #4: one home or the copies drift).
 *
 * A versioned artifact (`manifest/v<k>.parquet`, `ann/v<k>`,
 * `dup/v<k>`, `tokenizer/v<k>`, posting `v<k>` + `gen=<g>`) commits as:
 * stage to a tmp dir -> rename to the final versioned name -> write a
 * `_COMMITTED` marker file into it LAST ([[Dir.commit]]). The marker IS
 * the commit: a dir is committed if and only if it carries the marker,
 * and a dir without one is wreckage, whatever it holds. On a filesystem
 * with atomic directory rename the marker is belt-and-braces; on an
 * object store (S3A/GCS/ABFS: "rename" = per-object copy + delete) a
 * crash mid-rename leaves a PARTIAL final dir, and the missing marker
 * is what keeps it invisible:
 *  - RESOLUTION reads the newest marked version;
 *  - ALLOCATION takes max over ALL dirs + 1, so a crashed partial v<k>
 *    is never re-targeted (its rename would fail);
 *  - VACUUM iterates ALL dirs, so wreckage is reaped after the grace
 *    period like any superseded version.
 * A crashed FIRST commit is therefore no special case: its partial v0
 * is unmarked, nothing reads it, and the retry commits v1.
 * Single-FILE renames (eigen basis, _meta.json) stay plain: an object
 * PUT/copy is atomic per object, so there is no partial-file window —
 * only the documented absent-file windows.
 *
 * Callers hold their writer lock across allocate+stage+commit; this
 * object is pure filesystem mechanics and does no locking itself.
 */
private[operators] object VersionedCommit {

  val CommittedMarker = "_COMMITTED"

  /** One protocol root whose children are `<prefix><k><suffix>` dirs
    * (e.g. `v3.parquet` under manifest/, `gen=2` under a posting
    * version root). */
  final case class Dir(fs: FileSystem, root: String,
                       prefix: String = "v", suffix: String = "") {

    def pathOf(v: Int): Path = new Path(s"$root/$prefix$v$suffix")

    private val namePattern =
      (java.util.regex.Pattern.quote(prefix) + "\\d+" +
        java.util.regex.Pattern.quote(suffix)).r.pattern

    /** (version, committed?) for every protocol child of the root,
      * ascending. */
    def list(): Seq[(Int, Boolean)] =
      if (!fs.exists(new Path(root))) Nil
      else fs.listStatus(new Path(root)).toSeq
        .filter(st => st.isDirectory && namePattern.matcher(st.getPath.getName).matches())
        .map { st =>
          (st.getPath.getName.stripPrefix(prefix).stripSuffix(suffix).toInt,
            fs.exists(new Path(st.getPath, CommittedMarker)))
        }.sortBy(_._1)

    /** Versions safe to READ: the marked ones. */
    def committed(): Seq[Int] = list().filter(_._2).map(_._1)

    /** Every version on disk including crash-partial ones — allocation
      * and vacuum must see them all. */
    def all(): Seq[Int] = list().map(_._1)

    /** The next version number: max over ALL dirs + 1, so a crashed
      * partial v<k> is never re-targeted. Caller holds the writer lock. */
    def allocate(): Int = all().lastOption.map(_ + 1).getOrElse(0)

    /** Stamp one version committed (marker write; idempotent). */
    def mark(v: Int): Unit =
      fs.create(new Path(pathOf(v), CommittedMarker), true).close()

    /** Rename the staged dir to its final versioned name (creating the
      * root first) and mark it committed — the marker write is strictly
      * LAST. The target must not exist: a rename onto an existing dir
      * would nest the stage inside it. */
    def commit(tmp: Path, v: Int, what: String): Path = {
      val dst = pathOf(v)
      fs.mkdirs(new Path(root))
      require(!fs.exists(dst), s"graft: $what commit target $dst exists")
      require(fs.rename(tmp, dst), s"graft: $what commit rename to $dst failed")
      mark(v)
      dst
    }
  }
}

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
 * Single-FILE renames (eigen basis, the [[MetaJson]] files) stay plain:
 * an object PUT/copy is atomic per object, so there is no partial-file
 * window.
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

    /** Delete every version but the newest committed one that
      * `expired` accepts: superseded versions and crash-partial wreckage
      * alike. Returns the versions deleted. Caller holds the writer
      * lock. */
    def sweep(expired: Path => Boolean = _ => true): Seq[Int] = {
      val vs = list()
      val live = vs.filter(_._2).lastOption.map(_._1)
      vs.map(_._1).filter(v => !live.contains(v) && expired(pathOf(v))).map { v =>
        fs.delete(pathOf(v), true); v
      }
    }
  }

  /** A store's versioned derived artifact (`ann`, `dup`, `tokenizer`):
    * versions `<store>/<name>/v<k>`, each committed with its
    * `_meta.json`, staged at `<store>/<name>_tmp`. A rebuild commits
    * v<k+1>, whose name never pre-exists, so a concurrent reader
    * resolves the complete old version or the complete new one, and
    * the old one stays readable until the store's vacuum sweeps it.
    * What each store write does to an artifact (keep, drop, prune, fold
    * in) is that write's own rule; this is what every artifact shares.
    * Writes hold the store's writer lock. */
  final class Artifact(fs: FileSystem, storeRoot: String, name: String) {
    val root: String = s"$storeRoot/$name"
    private val dir = Dir(fs, root)
    private val stage = new Path(s"$storeRoot/${name}_tmp")

    def pathOf(v: Int): String = s"$root/v$v"

    /** Committed versions, oldest -> newest. */
    def versions: Seq[Int] = dir.committed()

    /** The newest committed version's dir. */
    def current: Option[String] = versions.lastOption.map(pathOf)

    /** The `_meta.json` of the version at `versionDir`. */
    def meta(versionDir: String): MetaJson.Fields = {
      val f = new Path(s"$versionDir/_meta.json")
      MetaJson.read(fs, f).getOrElse(
        throw new IllegalStateException(s"graft: committed $name version has no $f"))
    }

    /** Clear the stage, let `write` fill it and return the meta fields,
      * write `_meta.json` into it, and commit it as the next version
      * (its meta is never written again). Returns that version. */
    def commit(write: String => Seq[(String, Any)]): Int = {
      fs.delete(stage, true)
      val fields = write(stage.toString)
      MetaJson.write(fs, new Path(stage, "_meta.json"), fields: _*)
      val v = dir.allocate()
      dir.commit(stage, v, name)
      v
    }

    /** Remove every version: the artifact no longer exists. */
    def drop(): Unit = { fs.delete(new Path(root), true); () }

    /** [[Dir.sweep]] the versions and drop a stage `expired` accepts. */
    def sweep(expired: Path => Boolean): Unit = {
      dir.sweep(expired)
      if (fs.exists(stage) && expired(stage)) fs.delete(stage, true)
    }
  }
}

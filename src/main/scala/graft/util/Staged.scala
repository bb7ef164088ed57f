package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}

/** The ONE staleness protocol every staged artifact follows — derived
  * layouts and state dirs (`ensure`) and streaming landings
  * (`landing`, built on `ensure`):
  *
  *  - a staged root is FRESH iff its marker file holds exactly the
  *    caller's signature AND every required file is present (a
  *    surviving marker over deleted parts must not pass as fresh);
  *  - signatures are the source's exact `(size, mtime)` pair behind a
  *    caller-owned version prefix ([[sourceSig]]) — an mtime-ordering
  *    check misses a source replaced by `mv` with an older timestamp,
  *    and the prefix versions the build transform itself;
  *  - a stale root is deleted, rebuilt, and only THEN marked: a build
  *    that throws leaves no marker, so the next call rebuilds instead of
  *    serving a partial layout.
  *
  * Calls on one root serialize on a per-root lock; unrelated roots
  * build concurrently. */
object Staged {

  /** Marker of a derived layout or state dir. */
  val LayoutMarker = "_STAGED_SIG"

  /** Marker of a streaming landing dir. */
  val LandingMarker = "_STAGED"

  /** `<prefix><size>:<mtime ms>` of the source file. */
  def sourceSig(src: Path, prefix: String = ""): String =
    s"$prefix${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"

  /** The signature `root` was last staged under, if it is marked. */
  def stagedSig(root: Path, marker: String = LayoutMarker): Option[String] = {
    val m = root.resolve(marker)
    if (Files.exists(m)) Some(new String(Files.readAllBytes(m), UTF_8)) else None
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[Path, AnyRef]()

  /** Rebuild `root` unless it is fresh under `sig` with every
    * `required` file (relative to `root`) present: delete, `build`,
    * then write the marker. Returns whether a rebuild ran. */
  def ensure(root: Path, sig: String, required: Seq[String] = Nil,
      marker: String = LayoutMarker)(build: => Unit): Boolean = {
    val r = root.toAbsolutePath.normalize
    locks.computeIfAbsent(r, _ => new AnyRef).synchronized {
      val fresh = stagedSig(r, marker).contains(sig) &&
        required.forall(f => Files.exists(r.resolve(f)))
      if (!fresh) {
        deleteTree(r)
        build
        Files.createDirectories(r)
        Files.write(r.resolve(marker), sig.getBytes(UTF_8))
      }
      !fresh
    }
  }

  /** `<prefix>-000.parquet` … — the landing part names. */
  def partNames(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => f"$prefix-$i%03d.parquet")

  /** Rows of bucket `i` of `n` contiguous ranges over `[lo, lo + span)`. */
  def rangePart(key: Column, lo: Long, span: Long, i: Int, n: Int): Column =
    key >= lo + span * i / n && key < lo + span * (i + 1) / n

  /** Replay-position mtime base and step: positions are minutes apart
    * in 2001, far from any real file's mtime. */
  private val EpochMs = 1_000_000_000_000L
  private val StepMs = 60_000L

  /** Stage a streaming LANDING under `root` with the [[ensure]]
    * protocol (marker [[LandingMarker]], every part required): part `i`
    * is `rows(i)` written as ONE parquet file named `names(i)`, its
    * mtime staggered by replay position so a file source replays the
    * parts oldest-first. `order` is the replay permutation — part
    * `order(p)` lands at position `p`; empty means part order. `rows` is
    * evaluated only when the landing is stale. Returns `root` — the
    * staged landing every reader and size guard must use. */
  def landing(root: Path, sig: String, names: Seq[String],
      order: Seq[Int] = Nil)(rows: => Int => DataFrame): Path = {
    require(order.isEmpty || order.sorted == names.indices,
      s"order must be a permutation of 0 until ${names.size}: $order")
    ensure(root, sig, names, LandingMarker) {
      Files.createDirectories(root)
      val part = rows
      val tmp = root.resolve("_tmp")
      names.indices.foreach { i =>
        part(i).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val file = scala.util.Using.resource(Files.list(tmp)) { st =>
          st.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"landing part ${names(i)} produced no parquet file"))
        }
        val dst = root.resolve(names(i))
        Files.move(file, dst, StandardCopyOption.REPLACE_EXISTING)
        val pos = if (order.isEmpty) i else order.indexOf(i)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(EpochMs + pos * StepMs))
      }
      deleteTree(tmp)
    }
    root
  }

  /** Recursive delete; Files.walk streams hold a directory descriptor
    * until closed, hence Using.resource. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      scala.util.Using.resource(Files.walk(root)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => Files.deleteIfExists(p))
      }
}

package graft.util

/** Staging-location keying shared by every on-disk fixture/layout the
  * engine derives from a source directory: basename alone collides when
  * two roots share it (/a/sf0.1 vs /b/sf0.1), so derived paths carry a
  * hash of the full absolute path. */
object PathKeys {
  def pathKey(dir: String): String =
    f"${java.nio.file.Paths.get(dir).toAbsolutePath.toString.hashCode}%08x"

  /** `<basename>-<key>`: collision-free, still human-readable. */
  def keyedName(dir: String): String =
    s"${java.nio.file.Paths.get(dir).getFileName}-${pathKey(dir)}"

  /** The ONE read of the fixture root every staged layout, landing,
    * drain work dir and checkpoint lives under: `GRAFT_FIXTURE_DIR`, else
    * `target/fixtures` under the working directory (the checkout root
    * for sbt runs and tests). Read per call, so a process that sets it
    * before first use is honored everywhere. */
  def fixtureRoot: String =
    sys.env.getOrElse("GRAFT_FIXTURE_DIR",
      java.nio.file.Paths.get("target", "fixtures").toAbsolutePath.toString)

  /** `<fixtureRoot>/<kind>/<keyedName(dir)>` as a plain string join —
    * the form the layout/state dirs have always been spelled in. */
  def fixtureDir(kind: String, dir: String): String =
    s"$fixtureRoot/$kind/${keyedName(dir)}"

  /** `<fixtureRoot>/<kind>/<keyedName(dir)><suffix>` as a Path — the
    * form the landings and drain work dirs have always been spelled in. */
  def fixturePath(kind: String, dir: String,
      suffix: String = ""): java.nio.file.Path =
    java.nio.file.Paths.get(fixtureRoot, kind, keyedName(dir) + suffix)

  /** Where the ORD golden JSON files live: read-only inputs the ORD
    * fixtures parse and the ORD specs compare against byte for byte.
    * A fixed location, not a knob — the goldens are never written,
    * reconstructed or redirected. */
  val goldenDir: String = "/root/reference"

  /** The golden file `name` under [[goldenDir]]. A missing one fails
    * with one message naming the file and the precondition, never with
    * a bare read error deep inside a parser. */
  def golden(name: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(goldenDir, name)
    if (!java.nio.file.Files.isRegularFile(p))
      throw new java.io.FileNotFoundException(s"ORD golden $p is missing: " +
        s"the ORD fixtures and specs need the five golden JSON files in $goldenDir")
    p
  }
}

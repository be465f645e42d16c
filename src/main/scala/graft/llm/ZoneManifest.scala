package graft.llm

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Live-base manifest shared by the two persisted incremental stores
  * (the dedup ledger, [[Incremental]], and the residual-IVFPQ inverted
  * lists, [[PqIndex]]) — one small file recording
  * `<live base dir name> <compacted horizon>`, replaced ATOMICALLY.
  *
  * Compaction writes each new consolidated base to a VERSIONED dir
  * (`<base>_v<horizon>`) and only then swaps this pointer, so no crash
  * point can lose the base zone or pair a new base with a stale horizon —
  * the reader's view flips in one filesystem rename. Legacy stores (plain
  * `<base>/` + a bare-horizon marker file) stay readable through the
  * fallback in [[state]].
  *
  * One instance per store kind (distinct file/dir names); previously the
  * same logic was duplicated in both stores (r16 advice: share it, and
  * validate the parse so a truncated manifest fails with a message naming
  * the file instead of an ArrayIndexOutOfBounds with no context).
  */
private[llm] final class ZoneManifest(
    manifestName: String, legacyMarkerName: String, legacyBaseName: String) {

  private def path(dir: String) = Paths.get(dir, manifestName)

  /** (live base dir name, compacted horizon). Fails fast, naming the
    * manifest path, on a truncated/corrupt file (possible via the
    * non-atomic move fallback or external truncation) — a clear error
    * beats bricking every read with an index/number exception. */
  def state(dir: String): (String, Int) = {
    val m = path(dir)
    if (Files.exists(m)) {
      val raw = new String(Files.readAllBytes(m), "UTF-8").trim
      val parts = raw.split(" ")
      require(parts.length == 2 && parts(0).nonEmpty,
        s"corrupt store manifest $m: expected '<base dir> <horizon>', got '$raw' — " +
          "restore the manifest or delete it to fall back to the legacy layout")
      val horizon =
        try parts(1).toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"corrupt store manifest $m: horizon '${parts(1)}' is not an integer " +
              s"(full content: '$raw')")
        }
      (parts(0), horizon)
    } else {
      val legacy = Paths.get(dir, legacyMarkerName)
      val h =
        if (Files.exists(legacy))
          new String(Files.readAllBytes(legacy), "UTF-8").trim.toInt
        else -1
      (legacyBaseName, h)
    }
  }

  /** Atomically publish {baseName, horizon} as the live view. */
  def swap(dir: String, baseName: String, horizon: Int): Unit = {
    val tmp = Paths.get(dir, manifestName + ".tmp")
    Files.write(tmp, s"$baseName $horizon".getBytes("UTF-8"))
    try Files.move(tmp, path(dir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, path(dir), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Delete every base zone the manifest does NOT reference, plus the
    * legacy marker once a manifest exists. Called on EVERY compaction —
    * including the already-at-horizon skip branch — so a crash between a
    * prior swap and its delete can never leak the superseded zone
    * permanently (r16 advice: the skip branch used to return before the
    * delete). Readers resolve only the manifest-referenced dir, so
    * sweeping is always safe; the marker is kept while the store is still
    * legacy-resolved (it IS the horizon then). */
  def sweepDeadZones(dir: String, liveBase: String): Unit = {
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != liveBase &&
        (f.getName == legacyBaseName ||
          f.getName.startsWith(legacyBaseName + "_v")))
      .foreach(graft.data.Frames.deleteRecursively)
    if (Files.exists(path(dir)))
      Files.deleteIfExists(Paths.get(dir, legacyMarkerName))
  }
}

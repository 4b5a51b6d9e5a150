package graft.plans

import java.io.{DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Persisted sharded-bloom snapshots, one binary file per wave, written
  * next to the snapshot tables (SURVEY.md §4 item 2: the URL-seen filter
  * shards checkpoint with snapshot lineage, north rule "URL-seen filter
  * shards checkpoint to Iceberg").
  *
  * Layout: `<root>/<waveId padded>.bloom`, format
  * `[int shards][per shard: int len, bytes]`, written to a temp file and
  * atomically renamed — same crash discipline as [[SnapshotTable]]: a
  * partial write is never visible. A filter is only valid for its own
  * wave: an earlier wave's file misses every url seen since, and
  * [[graft.operators.SeenSet.removeSeen]] passes bloom misses on WITHOUT
  * the exact anti-join, so a stale filter would re-schedule seen urls.
  * A missing wave file therefore reads as absent, and the engine
  * rebuilds the filter from the seen snapshot instead.
  *
  * Scale: per wave the engine ORs in a bloom built over that wave's new
  * seen urls only — O(wave delta + bloom bits) — instead of rebuilding
  * from the full seen set, which at a 10^10-URL seen set would be an
  * O(10^10) scan every wave.
  */
final class BloomStore(root: String) {

  private val dir = Paths.get(root)
  Files.createDirectories(dir)

  private def fileFor(waveId: Long): Path = dir.resolve(f"$waveId%012d.bloom")

  /** The shards persisted for exactly `wave`, if that file exists. */
  def readAtWave(wave: Long): Option[Array[Array[Byte]]] =
    Some(fileFor(wave)).filter(Files.isRegularFile(_)).map { p =>
      val in = new DataInputStream(Files.newInputStream(p))
      try {
        val shards = in.readInt()
        Array.fill(shards) {
          val len = in.readInt()
          in.readNBytes(len)
        }
      } finally in.close()
    }

  /** Persist shards for `waveId` (idempotent: re-writing the same wave
    * after a crash replaces the file atomically with identical content —
    * the merge is deterministic).
    */
  def write(waveId: Long, shards: Array[Array[Byte]]): Unit = {
    val tmp = Files.createTempFile(dir, ".tmp-", ".bloom")
    val out = new DataOutputStream(Files.newOutputStream(tmp))
    try {
      out.writeInt(shards.length)
      shards.foreach { s => out.writeInt(s.length); out.write(s) }
    } finally out.close()
    Files.move(tmp, fileFor(waveId), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

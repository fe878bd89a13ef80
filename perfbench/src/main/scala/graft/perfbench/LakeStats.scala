package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.lake.LakeTable

/** End-of-run lake state, from the table's metadata and a listing of
  * its directory (outside the timed window). */
object LakeStats {
  def apply(wh: String, db: String, table: String, liveRows: Long): Map[String, Any] = {
    val t = LakeTable.load(wh, db, table)
    val md = t.metadata
    val live = LakeTable.liveFiles(md.snapshots)
    val deleteFiles = LakeTable.liveDeletes(md.snapshots).toSeq
      .flatMap { case (p, ds) => ds.paths ++ ds.dv.map(_ => s"dv:$p") }.toSet.size +
      LakeTable.liveEqDeletes(md.snapshots).flatMap(_.paths).toSet.size
    val dir = LakeTable.tableLocation(wh, db, table)
    def bytesUnder(p: Path): (Long, Long) =
      if (!Files.exists(p)) (0L, 0L)
      else {
        val s = Files.walk(p)
        try {
          val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
          (fs.map(Files.size).sum, fs.size.toLong)
        } finally s.close()
      }
    val (bytes, files) = bytesUnder(dir)
    val (mdBytes, _) = bytesUnder(dir.resolve("metadata"))
    Map("table" -> s"$db.$table", "warehouse_bytes" -> bytes,
      "disk_files" -> files, "live_rows" -> liveRows,
      "live_files" -> live.size, "live_delete_files" -> deleteFiles,
      "snapshots" -> md.snapshots.size, "metadata_bytes" -> mdBytes)
  }
}

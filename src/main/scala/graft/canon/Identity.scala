package graft.canon

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Ingestion identity derivation — reproduces the reference's scheme
  * (`app/utils/generate_ingestion_id.py:13-21`,
  * `app/services/data_integrity_manager.py:49-54`,
  * `app/controllers/ingestion_controllers.py:31-41`):
  *
  *   file_id      = sha256(file_path + "|" + lower(file_type))
  *   ingestion_id = sha256(file_id + "|" + version)
  *   chunk_id     = s"$ingestionId:$chunkNumber"
  *
  * where version is "resume" (continue prior state) or epoch-millis for a
  * forced re-ingestion.
  */
object Identity {

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The file type is normalized to lower case, like dispatch: "JSON" and
    * "json" over the same file are the same ingestion, and every caller
    * derives the same id by construction. */
  def fileId(filePath: String, fileType: String): String =
    sha256Hex(s"$filePath|${fileType.toLowerCase}")

  def ingestionId(fileId: String, version: String): String =
    sha256Hex(s"$fileId|$version")

  def chunkId(ingestionId: String, chunkNumber: Long): String =
    s"$ingestionId:$chunkNumber"

  /** Version selection (`ingestion_controllers.py:34-41`): re-ingestion gets a
    * fresh epoch-millis version (new identity, chunk 0); otherwise "resume". */
  def version(reIngestion: Boolean, nowMillis: => Long): String =
    if (reIngestion) nowMillis.toString else "resume"

  /** Chunk payload checksum (`data_integrity_manager.py:38-46`): sha256 over
    * the canonical JSON array of the chunk's records, in order. */
  def chunkChecksum(canonicalRecords: Seq[String]): String =
    sha256Hex(canonicalRecords.mkString("[", ",", "]"))
}

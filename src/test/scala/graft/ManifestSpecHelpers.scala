package graft

import java.nio.file.Files

/** Shared spec-side manifest introspection: reads the highest-numbered
  * manifest's raw JSON (the naming contract: `_manifest-` prefix,
  * `%016d` zero-padded version ⇒ lexicographic max = newest) without
  * opening the private Manifest type. One copy — the naming contract
  * lives here, not in every spec.
  */
trait ManifestSpecHelpers {

  def manifestText(dir: String): String = {
    val d = new java.io.File(dir)
    val last = d.listFiles().filter(_.getName.startsWith("_manifest-"))
      .map(_.getName).sorted.last
    new String(Files.readAllBytes(new java.io.File(d, last).toPath), "UTF-8")
  }

  /** Retained group versions, ascending — the group's readable
    * time-travel range (`_group-manifest-%016d.json` files).
    */
  def groupVersions(dir: String): Seq[Long] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("_group-manifest-"))
      .map(_.stripPrefix("_group-manifest-").stripSuffix(".json").toLong)
      .sorted

  /** The `op` the newest group manifest records. */
  def groupOp(dir: String): String = {
    val f = new java.io.File(dir, f"_group-manifest-${groupVersions(dir).last}%016d.json")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(f.toPath)).get("op").asText()
  }

  /** The serialized `"epochs"` object — pointer-movement assertions. */
  def epochPointers(manifest: String): String = {
    val i = manifest.indexOf("\"epochs\":{")
    manifest.substring(i, manifest.indexOf("}", i) + 1)
  }
}

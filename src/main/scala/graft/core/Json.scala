package graft.core

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper

/** The one JSON reader for the on-disk manifests (Jackson's tree model).
  * The writers are hand-rolled and escape only `\` and `"`, so raw
  * control characters inside strings are accepted as written.
  */
object Json {
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Required field `key` of `node`; a missing or null one fails with
    * its name and the enclosing object. */
  def field(node: JsonNode, key: String): JsonNode =
    Option(node.get(key)).filterNot(_.isNull).getOrElse(
      throw new IllegalStateException(s"JSON field '$key' missing in $node"))

  /** Optional field `key` of `node` (absent or null → None). */
  def opt(node: JsonNode, key: String): Option[JsonNode] =
    Option(node.get(key)).filterNot(_.isNull)
}

package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One CLI action's JSON config (`-index`, `-curate`, `-sim`, ...):
  * required keys and typed keys with defaults. `what` names the action
  * in every refusal ("<what> config needs <key>"). */
final class CliConfig(what: String, node: JsonNode) {
  require(node != null && node.isObject, s"$what config must be a JSON object")

  def has(f: String): Boolean = node.has(f)

  /** The key's node, when present. */
  def opt(f: String): Option[JsonNode] = Option(node.get(f))

  /** A required non-empty string. */
  def req(f: String): String = {
    require(has(f) && node.get(f).asText().nonEmpty, s"$what config needs $f")
    node.get(f).asText()
  }

  def str(f: String, dflt: String): String = opt(f).fold(dflt)(_.asText())
  def int(f: String, dflt: Int): Int = opt(f).fold(dflt)(_.asInt())
  def long(f: String, dflt: Long): Long = opt(f).fold(dflt)(_.asLong())
  def double(f: String, dflt: Double): Double = opt(f).fold(dflt)(_.asDouble())
  def bool(f: String): Boolean = opt(f).exists(_.asBoolean())
}

object CliConfig {
  def parse(what: String, json: String): CliConfig =
    new CliConfig(what, new ObjectMapper().readTree(json))
}

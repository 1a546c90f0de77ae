package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The committed expectations (`perfbench/expected.json`): per workload
  * section, a key → value string map. Outputs that do not depend on the
  * seed are checked against it on every run. `--record 1` writes what the
  * run observed instead, for a deliberate change of the expected outputs. */
final class Expected(path: String, record: Boolean) {
  private val mapper = new ObjectMapper()
  private val root: ObjectNode = {
    val f = new File(path)
    if (f.exists()) mapper.readTree(f).asInstanceOf[ObjectNode]
    else mapper.createObjectNode()
  }

  private val recorded = scala.collection.mutable.Set[String]()

  /** None when `value` is what `section.key` expects, else the problem. */
  def check(section: String, key: String, value: String): Option[String] =
    if (record) {
      // a recording run replaces its workload's section as a whole
      if (recorded.add(section)) root.putObject(section)
      root.withObjectProperty(section).put(key, value)
      None
    }
    else {
      val want = root.path(section).path(key)
      if (want.isMissingNode) Some(s"$section.$key: no committed expectation (observed $value)")
      else if (want.asText != value) Some(s"$section.$key: expected ${want.asText}, observed $value")
      else None
    }

  def save(): Unit =
    if (record) mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), root)
}

package graft.etl

import org.apache.spark.sql.SparkSession

/** The one place a warehouse artifact path is spelled: every standing
  * artifact lives at `<spark.sql.warehouse.dir>/graft_<name>_<tag>_…`.
  * Operators and diagnostics resolve paths through here, so a family's
  * path can never drift between the code that writes it and the code
  * that reads it. The strings are exactly the ones the operators always
  * wrote, so existing warehouses keep serving. */
object Artifacts {
  /** `graft_<name>` followed by `_<tag>` per tag. */
  def name(name: String, tags: Any*): String =
    (s"graft_$name" +: tags.map(_.toString)).mkString("_")

  /** [[name]] under the session's warehouse directory. */
  def path(s: SparkSession, name: String, tags: Any*): String =
    s"${s.conf.get("spark.sql.warehouse.dir")}/${this.name(name, tags: _*)}"
}

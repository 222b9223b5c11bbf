package graft.ops

/** One judge-facing query: a DataFrame builder plus (when the operator
  * is SQL-expressible) the equivalent DuckDB SQL for the driver's
  * oracle compare. `oracle = None` → driver records a rows-only check.
  */
final case class QueryDef(name: String, fn: Q, oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: Q): QueryDef =
    QueryDef(name, fn, Some(oracle))
}

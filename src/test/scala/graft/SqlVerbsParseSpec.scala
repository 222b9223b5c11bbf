package graft

import org.apache.spark.sql.functions._
import graft.engine.Engine

/** SQL verbs are routed on Spark's parsed plan, not on the statement
  * text: quoting, comments and CTE prefixes are the parser's business,
  * a qualified target is never claimed, and the DuckDB-only
  * `ON CONFLICT` tail is found where the parser stops.
  */
class SqlVerbsParseSpec extends SparkSpec {

  private def fresh() = new Engine(spark.newSession())

  private def rows(e: Engine, t: String): Seq[String] =
    e.get(t).orderBy(col("k")).collect().map(_.mkString("|")).toSeq

  test("every claimed verb accepts a backticked target and a leading comment") {
    val e = fresh()
    e.put("t", e.spark.sql("SELECT * FROM VALUES (1L, 'a', 10L), (2L, 'b', 20L) AS x(k, name, v)"))
    e.put("src", e.spark.sql("SELECT 5L AS sk, 'e' AS sn"))
    e.query("UPDATE `t` /* c */ SET v = v + 1 WHERE k = 1")
    e.query("-- c\nUPDATE t SET name = 'B' WHERE `t`.k = 2")
    assert(rows(e, "t") == Seq("1|a|11", "2|B|20"))
    e.query("/* c */ DELETE FROM `t` WHERE k = 2")
    e.query("-- c\nINSERT INTO `t` VALUES (3L, 'c', 30L)")
    e.query("/* c */ INSERT INTO t (k, name) SELECT 4L, 'd'")
    assert(rows(e, "t") == Seq("1|a|11", "3|c|30", "4|d|null"))
    e.query("/* c */ MERGE INTO `t` AS tt USING (SELECT 3L AS sk, 'C' AS sn) AS s " +
      "ON tt.k = s.sk WHEN MATCHED THEN UPDATE SET name = s.sn")
    // an unaliased source table qualifies its columns by its own name
    e.query("-- c\nMERGE INTO t USING src ON t.k = src.sk " +
      "WHEN NOT MATCHED THEN INSERT (k, name) VALUES (src.sk, src.sn)")
    assert(rows(e, "t") == Seq("1|a|11", "3|C|30", "4|d|null", "5|e|null"))
    e.query("-- c\nALTER TABLE `t` ADD COLUMN w DOUBLE")
    e.query("/* c */ ALTER TABLE `t` ADD COLUMN IF NOT EXISTS w DOUBLE")
    e.query("-- c\nALTER TABLE `t` RENAME COLUMN w TO w2")
    assert(e.get("t").columns.toSeq == Seq("k", "name", "v", "w2"))
    e.query("/* c */ ALTER TABLE `t` DROP COLUMN w2")
    e.query("-- c\nALTER TABLE `t` RENAME TO `t2`")
    assert(!e.catalog.contains("t") && e.get("t2").columns.toSeq == Seq("k", "name", "v"))
    e.query("/* c */ INSERT INTO `t2` SELECT 1L, 'up', 0L ON CONFLICT (`k`) DO UPDATE SET name = excluded.name")
    assert(rows(e, "t2").head == "1|up|11")
  }

  test("qualified targets fall through to spark.sql and leave the catalog table untouched") {
    val e = fresh()
    e.put("q", e.spark.sql("SELECT * FROM VALUES (1L, 'a', 10L) AS x(k, name, v)"))
    val before = rows(e, "q")
    Seq(
      "UPDATE db.q SET v = 0",
      "-- c\nDELETE FROM db.q",
      "INSERT INTO db.q VALUES (9L, 'x', 0L)",
      "INSERT INTO db.q SELECT 9L, 'x', 0L ON CONFLICT (k) DO NOTHING",
      "MERGE INTO db.q USING (SELECT 1L AS sk) AS s ON q.k = s.sk WHEN MATCHED THEN DELETE",
      "ALTER TABLE db.q ADD COLUMN w INT",
      "ALTER TABLE db.q DROP COLUMN v",
      "ALTER TABLE db.q RENAME COLUMN v TO w",
      "ALTER TABLE db.q RENAME TO q2"
    ).foreach { stmt =>
      val ex = intercept[Exception](e.query(stmt).collect())
      assert(!ex.getMessage.contains("Cannot parse"), s"$stmt: ${ex.getMessage}")
      assert(rows(e, "q") == before, stmt)
      assert(e.get("q").columns.toSeq == Seq("k", "name", "v"), stmt)
    }
    assert(e.catalog.list == Seq("q"))
  }

  test("a CTE-prefixed INSERT into a catalog table is claimed and appends") {
    val e = fresh()
    e.put("c", e.spark.sql("SELECT * FROM VALUES (1L, 'a') AS x(k, name)"))
    e.query("WITH s AS (SELECT k + 10 AS k, upper(name) AS name FROM c) INSERT INTO c SELECT * FROM s")
    e.query("INSERT INTO c WITH s AS (SELECT 2L AS k, 'b' AS name) SELECT * FROM s")
    assert(rows(e, "c") == Seq("1|a", "2|b", "11|A"))
  }

  test("ON CONFLICT is found where the parser stops: across lines, after JOIN … ON, behind an alias") {
    val e = fresh()
    e.put("u", e.spark.sql("SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS x(k, s)"))
    e.put("dim", e.spark.sql("SELECT * FROM VALUES (1L, 'x'), (2L, 'y'), (3L, 'z') AS x(k, tag)"))
    // line 4 of the statement, after a JOIN … ON, and an 'ON CONFLICT'
    // string in the DO UPDATE SET list that must stay data
    e.query("INSERT INTO u\n  SELECT d.k, d.tag FROM dim d JOIN dim e2\n    ON d.k = e2.k\n" +
      "  ON CONFLICT (k)\n  DO UPDATE SET s = 'ON CONFLICT ' || excluded.s")
    assert(rows(e, "u") == Seq("1|ON CONFLICT x", "2|ON CONFLICT y", "3|z"))
    // the parser reads this ON as a column alias and stops at CONFLICT
    e.query("INSERT INTO u SELECT 3L, 'c' ON CONFLICT (k) DO NOTHING")
    // a character outside the BMP before the ON: the parser counts code
    // points, the split counts chars
    e.query("INSERT INTO u SELECT * FROM VALUES (4L, '😀') AS v(k, s) ON CONFLICT (k) DO NOTHING")
    assert(rows(e, "u").drop(2) == Seq("3|z", "4|😀"))
    // DO UPDATE … WHERE limits which conflicting rows update; the
    // target's own name qualifies the existing row
    e.query("INSERT INTO u SELECT * FROM VALUES (1L, 'p'), (2L, 'q') AS v(k, s) " +
      "ON CONFLICT (k) DO UPDATE SET s = u.s || '+' || excluded.s WHERE excluded.k = 1")
    assert(rows(e, "u").take(2) == Seq("1|ON CONFLICT x+p", "2|ON CONFLICT y"))
  }

  test("duplicate assignments and duplicate insert columns error, since the parser accepts both") {
    val e = fresh()
    e.put("d", e.spark.sql("SELECT 1L AS k, 'a' AS s"))
    val before = rows(e, "d")
    def err(stmt: String) = intercept[IllegalArgumentException](e.query(stmt)).getMessage
    assert(err("UPDATE d SET s = 'x', S = 'y'").contains("Duplicate assignment"))
    assert(err("INSERT INTO d (k, K) VALUES (1L, 2L)").contains("more than once"))
    assert(err("INSERT INTO d SELECT 1L, 'b' ON CONFLICT (k) DO UPDATE SET s = 'x', d.s = 'y'")
      .contains("Duplicate assignment"))
    assert(err("MERGE INTO d USING (SELECT 1L AS sk) AS m ON d.k = m.sk " +
      "WHEN MATCHED THEN UPDATE SET s = 'x', d.s = 'y'").contains("Duplicate assignment"))
    assert(rows(e, "d") == before)
  }

  test("MERGE qualifiers are rewritten on parsed names, never inside literals or comments") {
    val e = fresh()
    e.put("m", e.spark.sql("SELECT * FROM VALUES (1L, 'a') AS x(k, name)"))
    e.query("MERGE INTO m AS t USING (SELECT 1L AS sk, 'X' AS sn) AS s ON t.k = s.sk " +
      "WHEN MATCHED THEN UPDATE SET name = /* s.sn */ 's.sn t.name ' || s.sn || t.name")
    assert(rows(e, "m") == Seq("1|s.sn t.name Xa"))
  }

  test("correlated subqueries reach the target by name or alias; a bare inner name binds inside") {
    val e = fresh()
    e.put("t", e.spark.sql("SELECT * FROM VALUES (1L, 'a', 10L), (2L, 'b', 20L), (3L, 'c', 30L) AS x(k, name, v)"))
    e.put("o", e.spark.sql("SELECT * FROM VALUES (1L, 100L), (1L, 101L), (3L, 300L), (9L, 900L) AS x(k, v)"))
    // o.k = t.k compares against the outer row, not o.k = o.k
    e.query("DELETE FROM t WHERE EXISTS (SELECT 1 FROM o WHERE o.k = t.k AND o.v > 200)")
    assert(rows(e, "t") == Seq("1|a|10", "2|b|20"))
    e.query("UPDATE t SET v = (SELECT max(o.v) FROM o WHERE o.k = t.k)")
    assert(rows(e, "t") == Seq("1|a|101", "2|b|null"))
    e.query("UPDATE t AS x SET name = 'hit' WHERE EXISTS (SELECT 1 FROM o WHERE o.k = x.k)")
    assert(rows(e, "t") == Seq("1|hit|101", "2|b|null"))
    // the bare `k` is o's own column, so only rows with no o.k = x.k go
    e.query("DELETE FROM t AS x WHERE NOT EXISTS (SELECT 1 FROM o WHERE k = x.k)")
    assert(rows(e, "t") == Seq("1|hit|101"))
    e.query("INSERT INTO t SELECT 1L, 'n', 0L ON CONFLICT (k) " +
      "DO UPDATE SET v = (SELECT min(o.v) FROM o WHERE o.k = t.k)")
    assert(rows(e, "t") == Seq("1|hit|100"))
    // a subquery that names its own relation `s` keeps `s.v` as its own;
    // the outer `s.sk` is still the MERGE source
    e.query("MERGE INTO t USING (SELECT 1L AS sk) AS s ON t.k = s.sk WHEN MATCHED THEN " +
      "UPDATE SET v = (SELECT max(s.v) FROM o AS s WHERE s.k = t.k) + s.sk")
    assert(rows(e, "t") == Seq("1|hit|102"))
  }

  test("MERGE INSERT VALUES without a column list fills every target column in order") {
    val e = fresh()
    e.put("mv", e.spark.sql("SELECT * FROM VALUES (1L, 'a', 10L) AS x(k, name, v)"))
    e.query("/* c */ MERGE INTO `mv` AS t USING (SELECT * FROM VALUES (2L, 'b'), (3L, 'c') AS z(sk, sn)) AS s " +
      "ON t.k = s.sk\nWHEN NOT MATCHED AND s.sk = 2 THEN INSERT VALUES (s.sk, s.sn, 20L)\n" +
      "WHEN NOT MATCHED THEN INSERT\n  VALUES (s.sk, upper(s.sn), NULL)")
    assert(rows(e, "mv") == Seq("1|a|10", "2|b|20", "3|C|null"))
    // a value count that does not match the target's columns errors
    intercept[Exception](e.query("MERGE INTO mv USING (SELECT 4L AS sk) AS s ON mv.k = s.sk " +
      "WHEN NOT MATCHED THEN INSERT VALUES (s.sk)"))
    assert(rows(e, "mv") == Seq("1|a|10", "2|b|20", "3|C|null"))
  }
}

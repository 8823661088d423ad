package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** `df.write.insertInto(...)` (by-position) and SQL INSERT PARTITION-clause
  * semantics ported (behavior, not code) from the reference
  * `star/InsertIntoTableSuite.scala:64-800`. Deviation: the engine enforces
  * one store-assignment policy (safe up-casts only) rather than following
  * `spark.sql.storeAssignmentPolicy` — incompatible positional types are
  * always a loud error, never legacy null-coercion.
  */
class InsertIntoSuite extends GraftFunSuite {

  private lazy val s2: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.spark_catalog", "graft.catalog.GraftCatalog")
    s
  }

  private var n = 0
  private def withTable[T](f: String => T): T = {
    n += 1
    val name = s"ins$n"
    try f(name)
    finally s2.sql(s"DROP TABLE IF EXISTS $name")
  }

  private def doInsert(t: String, df: DataFrame,
      mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode).insertInto(t)

  private def rows(t: String): Seq[Seq[Any]] =
    rowsOf(s2.table(t).select("id", "data"))

  private def src(rows: (Long, String)*): DataFrame = {
    import s2.implicits._
    rows.toDF("id", "data")
  }

  test("insertInto: append") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft")
      doInsert(t, src((1L, "a"), (2L, "b")))
      assert(rows(t) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    }
  }

  test("positional INSERT with NULL keeps it in its ordinal position") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft")
      // the NULL column must become a typed null in column 2, not be
      // dropped as NullType with later values shifting left
      s2.sql(s"INSERT INTO $t VALUES (1, NULL), (2, 'b')")
      assert(rows(t) == Seq(Seq(1L, null), Seq(2L, "b")))
      // arity overflow with an interior NULL stays an error, never a shift
      val e = intercept[Exception] {
        s2.sql(s"INSERT INTO $t VALUES (3, NULL, 'x')")
      }
      assert(e.getMessage.toLowerCase.matches("(?s).*(column|mismatch|merge).*"),
        s"unexpected: ${e.getMessage}")
      assert(rows(t) == Seq(Seq(1L, null), Seq(2L, "b")))
    }
  }

  test("fractional literals insert into double columns") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, score DOUBLE) USING graft")
      // 0.5 parses as DECIMAL(1,1); ANSI store assignment puts it in the
      // double column — canUpCast alone would reject it
      s2.sql(s"INSERT INTO $t VALUES (1, 0.5), (2, 12.25)")
      assert(rowsOf(s2.table(t)) == Seq(Seq(1L, 0.5), Seq(2L, 12.25)))
      // narrowing stays rejected: a string into DOUBLE is still an error
      val e = intercept[Exception] {
        s2.sql(s"INSERT INTO $t VALUES (3, 'oops')")
      }
      assert(e.getMessage.toLowerCase.contains("type"))
    }
  }

  test("insertInto: append by position ignores column names") {
    import s2.implicits._
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft")
      // names reversed; positions win
      doInsert(t, Seq((1L, "a"), (2L, "b")).toDF("data", "id"))
      assert(rows(t) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    }
  }

  test("insertInto: append partitioned table (partition column last)") {
    import s2.implicits._
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft " +
        "PARTITIONED BY (id)")
      // visible schema is (data, id): partition columns move last
      doInsert(t, Seq(("a", 1L), ("b", 2L)).toDF("data", "id"))
      assert(rows(t) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    }
  }

  test("insertInto: overwrite replaces table contents") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft")
      doInsert(t, src((1L, "a")))
      doInsert(t, src((4L, "d"), (5L, "e")), SaveMode.Overwrite)
      assert(rows(t) == Seq(Seq(4L, "d"), Seq(5L, "e")))
    }
  }

  test("insertInto: fails when missing a column, table unchanged") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING, missing STRING) USING graft")
      val e = intercept[Exception] { doInsert(t, src((1L, "a"))) }
      assert(e.getMessage.contains("not enough data columns"), e.getMessage)
      assert(s2.table(t).count() == 0)
    }
  }

  test("insertInto: extra trailing column rejected, then evolves with autoMerge") {
    import s2.implicits._
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft")
      val df = Seq((1L, "a", "mango")).toDF("id", "data", "fruit")
      val e = intercept[Exception] { doInsert(t, df) }
      assert(e.getMessage.contains("mergeSchema"), e.getMessage)
      assert(s2.table(t).count() == 0)
      s2.conf.set("spark.graft.schema.autoMerge.enabled", "true")
      try doInsert(t, df)
      finally s2.conf.unset("spark.graft.schema.autoMerge.enabled")
      assert(s2.table(t).schema.fieldNames.toSeq == Seq("id", "data", "fruit"))
      assert(rowsOf(s2.table(t).select("id", "data", "fruit")) ==
        Seq(Seq(1L, "a", "mango")))
    }
  }

  test("insertInto: struct fields map by position, names irrelevant") {
    import s2.implicits._
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, point STRUCT<x: DOUBLE, y: DOUBLE>) " +
        "USING graft")
      doInsert(t, Seq((1L, (0.0, 1.0))).toDF("id", "point"))
      doInsert(t, Seq((2L, (1.0, 0.0))).toDF("col1", "col2"))
      // nullable nested values
      doInsert(t, Seq((3L, (1.0, null.asInstanceOf[java.lang.Double])))
        .toDF("col1", "col2"))
      val got = s2.table(t).selectExpr("id", "point.x", "point.y").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).sortBy(_._1).toSeq
      assert(got == Seq((1L, 0.0, 1.0), (2L, 1.0, 0.0), (3L, 1.0, null)))
    }
  }

  test("insertInto: new nested field is rejected without mergeSchema") {
    import s2.implicits._
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, point STRUCT<x: DOUBLE, y: DOUBLE>) " +
        "USING graft")
      val withZ = Seq((5L, (2.5, 2.5, 1.0))).toDF("id", "p")
        .select($"id", struct($"p._1".as("x"), $"p._2".as("y"),
          $"p._3".as("z")).as("point"))
      val e = intercept[Exception] { doInsert(t, withZ) }
      assert(e.getMessage.contains("mergeSchema") ||
        e.getMessage.contains("not enough"), e.getMessage)
      assert(s2.table(t).count() == 0)
    }
  }

  test("insertInto: incompatible positional type is a loud error") {
    import s2.implicits._
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft")
      // string into bigint by position: rejected, never null-coerced
      val e = intercept[Exception] {
        doInsert(t, Seq(("a", 1L)).toDF("c1", "c2"))
      }
      assert(e.getMessage.contains("does not match"), e.getMessage)
      assert(s2.table(t).count() == 0)
    }
  }

  test("SQL INSERT with static PARTITION clause") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (data STRING, id BIGINT) USING graft " +
        "PARTITIONED BY (id)")
      s2.sql(s"INSERT INTO $t PARTITION (id = 1) VALUES ('a')")
      s2.sql(s"INSERT INTO $t PARTITION (id = 2) VALUES ('b')")
      assert(rows(t) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    }
  }

  test("SQL INSERT OVERWRITE with static PARTITION clause replaces only it") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (data STRING, id BIGINT) USING graft " +
        "PARTITIONED BY (id)")
      s2.sql(s"INSERT INTO $t VALUES ('a', 1), ('b', 2)")
      s2.sql(s"INSERT OVERWRITE $t PARTITION (id = 2) VALUES ('B')")
      assert(rows(t) == Seq(Seq(1L, "a"), Seq(2L, "B")))
    }
  }

  test("SQL INSERT with a column list resolves by name") {
    withTable { t =>
      s2.sql(s"CREATE TABLE $t (id BIGINT, data STRING) USING graft")
      s2.sql(s"INSERT INTO $t (data, id) VALUES ('x', 9)")
      assert(rows(t) == Seq(Seq(9L, "x")))
    }
  }

  private def pathRows(dir: String): Seq[Seq[Any]] =
    rowsOf(spark.read.format("graft").load(dir).select("id", "data"))

  test("SQL INSERT INTO a graft.`/path` table appends") {
    withTempTable { dir =>
      src((1L, "a")).write.format("graft").save(dir)
      spark.sql(s"INSERT INTO graft.`$dir` SELECT 2L AS id, 'b' AS data")
      assert(pathRows(dir) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    }
  }

  test("SQL INSERT OVERWRITE a graft.`/path` table replaces its rows") {
    withTempTable { dir =>
      src((1L, "a"), (2L, "b")).write.format("graft").save(dir)
      spark.sql(s"INSERT OVERWRITE graft.`$dir` VALUES (3L, 'c')")
      assert(pathRows(dir) == Seq(Seq(3L, "c")))
    }
  }
}

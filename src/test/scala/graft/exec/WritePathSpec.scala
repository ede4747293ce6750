package graft.exec

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The one write path of INSERT, COPY, UPDATE and stream batches: the
  * guards every writer shares — a written primary key is never NULL,
  * an omitted AUTO_INCREMENT column draws its ids under COPY as under
  * INSERT, and an UPDATE sees the keys its own batch writes when it
  * checks a self-referencing foreign key, as INSERT does. */
class WritePathSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def jsonl(lines: String*): String = {
    val f = java.nio.file.Files.createTempFile("graft-write", ".jsonl")
    java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
    f.toString
  }

  test("a NULL primary key is rejected by INSERT, COPY and a pk-assigning UPDATE") {
    val e = QueryEngine.scratch(spark)
    try {
      e.sql("CREATE TABLE k (id BIGINT PRIMARY KEY, v STRING)")
      e.sql("INSERT INTO k VALUES (1, 'a')")
      val ins = intercept[IllegalArgumentException](
        e.sql("INSERT INTO k VALUES (NULL, 'x')"))
      assert(ins.getMessage.contains("null value in column id"), ins.getMessage)
      intercept[IllegalArgumentException](
        e.sql("INSERT INTO k SELECT NULL, 'y' FROM range(1, 3)"))
      intercept[IllegalArgumentException](
        e.sql(s"COPY k FROM '${jsonl("""{"v": "no id"}""")}'"))
      intercept[IllegalArgumentException](
        e.sql("UPDATE k SET id = NULL WHERE id = 1"))
      // an UPDATE that leaves the pk alone is not re-checked against it
      e.sql("UPDATE k SET v = 'b' WHERE id = 1")
      // the table stays readable and writable
      e.sql("INSERT INTO k VALUES (2, 'c')")
      assert(rows(e.sql("SELECT id, v FROM k")) === Seq("1|b", "2|c"))
    } finally e.close()
  }

  test("a stream batch carrying a NULL pk leaves the table readable") {
    val e = QueryEngine.scratch(spark)
    try {
      import spark.implicits._
      e.sql("CREATE TABLE k (id BIGINT PRIMARY KEY, v STRING)")
      e.sql("INSERT INTO k VALUES (1, 'a')")
      // stream batches skip the guards, so the NULL key lands; the
      // driver tail must not fold it
      e.ingestStream("k", Seq[(java.lang.Long, String)]((null, "s")).toDF("id", "v"))
      val fast = rows(e.stateAt("k", None))
      assert(fast === rows(e.stateAt("k", None, dmlRead = true)))
      assert(fast.contains("1|a"), fast)
      e.sql("INSERT INTO k VALUES (2, 'b')")
      assert(rows(e.sql("SELECT id, v FROM k WHERE id = 2")) === Seq("2|b"))
    } finally e.close()
  }

  test("COPY draws AUTO_INCREMENT ids for an omitted id column") {
    val e = QueryEngine.scratch(spark)
    try {
      e.sql("CREATE TABLE u (id BIGINT AUTO_INCREMENT PRIMARY KEY, name STRING)")
      e.sql(s"COPY u FROM '${jsonl("""{"name": "a"}""", """{"name": "b"}""",
        """{"name": "c"}""")}'")
      assert(rows(e.sql("SELECT id FROM u")) === Seq("1", "2", "3"))
      assert(rows(e.sql("SELECT name FROM u")) === Seq("a", "b", "c"))
      e.sql("INSERT INTO u (name) VALUES ('d')")
      assert(rows(e.sql("SELECT id FROM u WHERE name = 'd'")) === Seq("4"))
    } finally e.close()
  }

  test("UPDATE sees the self-referencing keys its own batch writes") {
    val e = QueryEngine.scratch(spark)
    try {
      e.sql("""CREATE TABLE n (id BIGINT PRIMARY KEY, code STRING,
              |ref STRING REFERENCES n(code))""".stripMargin)
      e.sql("INSERT INTO n VALUES (1, 'a', NULL), (2, 'b', NULL)")
      e.sql("UPDATE n SET code = 'c', ref = 'c' WHERE id = 1")
      assert(rows(e.sql("SELECT id, code, ref FROM n WHERE id = 1")) === Seq("1|c|c"))
      // a reference to a key nobody holds is still rejected
      val ex = intercept[IllegalArgumentException](
        e.sql("UPDATE n SET ref = 'zz' WHERE id = 1"))
      assert(ex.getMessage.contains("foreign key violation"), ex.getMessage)
    } finally e.close()
  }
}

package graft.exec

import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Table privileges (auth.rs:32-120 Permission, :647 check_permission):
  * the SET PRIVILEGES gate, GRANT/REVOKE for SELECT/INSERT/UPDATE/
  * DELETE/ALL, grants to users, roles, and PUBLIC, superuser bypass,
  * and catalog persistence.
  */
class GrantsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh(): QueryEngine = {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    e
  }

  test("gate off: everyone can do everything; on: default deny for non-superusers") {
    val e = fresh()
    val alice = e.newSession(); alice.setAuth("alice")
    assert(alice.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
    e.sql("SET PRIVILEGES ON")
    intercept[SecurityException] { alice.sql("SELECT COUNT(*) AS n FROM t") }
    intercept[SecurityException] { alice.sql("INSERT INTO t VALUES (3, 'c')") }
    intercept[SecurityException] { alice.sql("UPDATE t SET v = 'x'") }
    intercept[SecurityException] { alice.sql("DELETE FROM t") }
    // superuser unaffected
    assert(e.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
  }

  test("per-privilege grants are independent; ALL covers the four; REVOKE removes") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT SELECT, UPDATE ON t TO alice")
    val alice = e.newSession(); alice.setAuth("alice")
    assert(alice.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
    alice.sql("UPDATE t SET v = 'x' WHERE k = 1")
    intercept[SecurityException] { alice.sql("DELETE FROM t WHERE k = 1") }
    intercept[SecurityException] { alice.sql("INSERT INTO t VALUES (3, 'c')") }
    e.sql("GRANT ALL ON t TO bob")
    val bob = e.newSession(); bob.setAuth("bob")
    bob.sql("INSERT INTO t VALUES (3, 'c')")
    bob.sql("DELETE FROM t WHERE k = 3")
    e.sql("REVOKE UPDATE ON t FROM alice")
    intercept[SecurityException] { alice.sql("UPDATE t SET v = 'y'") }
    assert(alice.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
    e.sql("REVOKE ALL ON t FROM bob")
    intercept[SecurityException] { bob.sql("SELECT COUNT(*) AS n FROM t") }
  }

  test("COPY FROM needs the INSERT privilege like a plain INSERT") {
    val e = fresh()
    val dir = java.nio.file.Files.createTempDirectory("graft-copy-priv-")
    val f = dir.resolve("rows.jsonl")
    java.nio.file.Files.write(f,
      """{"k": 10, "v": "j"}""".getBytes("UTF-8"))
    e.sql("SET PRIVILEGES ON")
    val alice = e.newSession(); alice.setAuth("alice")
    intercept[SecurityException] { alice.sql(s"COPY t FROM '$f'") }
    e.sql("GRANT INSERT ON t TO alice")
    alice.sql(s"COPY t FROM '$f'")
    assert(e.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(3L)))
  }

  test("role and PUBLIC grants; only superusers manage grants") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT SELECT ON t TO analyst") // a role name
    val carol = e.newSession(); carol.setAuth("carol", roles = Set("analyst"))
    assert(carol.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
    intercept[SecurityException] { carol.sql("GRANT DELETE ON t TO carol") }
    intercept[SecurityException] { carol.sql("SET PRIVILEGES OFF") }
    e.sql("GRANT INSERT ON t TO PUBLIC")
    val dave = e.newSession(); dave.setAuth("dave")
    dave.sql("INSERT INTO t VALUES (9, 'z')")
    intercept[SecurityException] { dave.sql("SELECT COUNT(*) AS n FROM t") }
  }

  test("grants persist across reopen; SHOW GRANTS lists them; DROP TABLE clears") {
    val dir = java.nio.file.Files.createTempDirectory("graft-grants-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY)")
    e.sql("GRANT SELECT ON t TO alice")
    e.sql("GRANT ALL ON t TO bob")
    e.close()
    val e2 = new QueryEngine(spark, dir)
    assert(e2.sql("SHOW GRANTS").collect().toSeq.map(_.toString).sorted === Seq(
      Row("t", "ALL", "bob").toString, Row("t", "SELECT", "alice").toString))
    e2.sql("DROP TABLE t")
    assert(e2.sql("SHOW GRANTS").count() === 0L)
    e2.close()
  }

  test("predefined bundles: readonly reads everywhere, user writes, admin administers") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT readonly TO rita")
    val rita = e.newSession(); rita.setAuth("rita")
    // SELECT database-wide through the bundle, zero table grants
    assert(rita.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
    intercept[SecurityException] { rita.sql("INSERT INTO t VALUES (5, 'e')") }
    intercept[SecurityException] { rita.sql("DROP TABLE t") }
    e.sql("GRANT user TO ugo")
    val ugo = e.newSession(); ugo.setAuth("ugo")
    ugo.sql("INSERT INTO t VALUES (5, 'e')")
    ugo.sql("UPDATE t SET v = 'x' WHERE k = 5")
    ugo.sql("DELETE FROM t WHERE k = 5")
    intercept[SecurityException] { ugo.sql("DROP TABLE t") }
    intercept[SecurityException] { ugo.sql("GRANT readonly TO someone") }
    e.sql("GRANT admin TO ada")
    val ada = e.newSession(); ada.setAuth("ada")
    // admin carries DropTable, CompactDatabase, and GrantRole —
    // but NOT GrantPermission or the privilege gate itself
    ada.sql("OPTIMIZE t")
    ada.sql("GRANT readonly TO newbie")
    intercept[SecurityException] { ada.sql("GRANT SELECT ON t TO newbie") }
    intercept[SecurityException] { ada.sql("SET PRIVILEGES OFF") }
    ada.sql("DROP TABLE t")
    e.close()
  }

  test("the superuser bundle is full power; custom roles validate their permissions") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT superuser TO sam")
    val sam = e.newSession(); sam.setAuth("sam")
    assert(sam.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
    sam.sql("GRANT SELECT ON t TO whoever") // GrantPermission-level
    sam.sql("CREATE ROLE writers WITH PERMISSIONS INSERT, UPDATE")
    // unknown permission and duplicate names refuse
    intercept[IllegalArgumentException] {
      e.sql("CREATE ROLE bad WITH PERMISSIONS FLY")
    }
    intercept[IllegalArgumentException] { e.sql("CREATE ROLE writers") }
    intercept[IllegalArgumentException] { e.sql("CREATE ROLE readonly") }
    // the custom bundle's DML works database-wide; SELECT is absent
    e.sql("GRANT writers TO wren")
    val wren = e.newSession(); wren.setAuth("wren")
    wren.sql("INSERT INTO t VALUES (7, 'g')")
    intercept[SecurityException] { wren.sql("SELECT COUNT(*) AS n FROM t") }
    e.close()
  }

  test("role lifecycle: membership errors, DROP ROLE cascades, system roles undropable") {
    val e = fresh()
    intercept[IllegalArgumentException] { e.sql("GRANT nosuch TO alice") }
    e.sql("CREATE ROLE temps")
    e.sql("GRANT temps TO alice")
    // revoking a role the user does not hold errors (rbac.rs:400-414)
    intercept[IllegalArgumentException] { e.sql("REVOKE temps FROM bob") }
    e.sql("DROP ROLE temps")
    // the membership went with the role
    assert(!e.catalog.rolesOf("alice").contains("temps"))
    intercept[IllegalArgumentException] { e.sql("DROP ROLE temps") }
    e.sql("DROP ROLE IF EXISTS temps") // no-op
    intercept[IllegalArgumentException] { e.sql("DROP ROLE superuser") }
    e.close()
  }

  test("roles persist across reopen; SHOW ROLES lists bundles, perms, members") {
    val dir = java.nio.file.Files.createTempDirectory("graft-roles-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("CREATE ROLE writers WITH PERMISSIONS INSERT, UPDATE")
    e.sql("GRANT writers TO wren")
    e.sql("GRANT readonly TO rita")
    e.close()
    val e2 = new QueryEngine(spark, dir)
    val rows = e2.sql("SHOW ROLES").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.map(_._1).toSet ===
      Set("superuser", "admin", "user", "readonly", "writers"))
    assert(rows.find(_._1 == "writers").get ===
      ("writers", "CUSTOM", "INSERT, UPDATE", "wren"))
    assert(rows.find(_._1 == "readonly").get._4 === "rita")
    assert(rows.find(_._1 == "superuser").get._2 === "SYSTEM")
    // membership survives the reopen and still gates
    e2.sql("CREATE TABLE t (k BIGINT PRIMARY KEY)")
    e2.sql("SET PRIVILEGES ON")
    val wren = e2.newSession(); wren.setAuth("wren")
    wren.sql("INSERT INTO t VALUES (1)")
    intercept[SecurityException] { wren.sql("SELECT COUNT(*) AS n FROM t") }
    e2.close()
  }

  test("SET ROLE can narrow into a catalog-granted role") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("CREATE ROLE analysts")
    e.sql("GRANT SELECT ON t TO analysts")
    e.sql("GRANT analysts TO nia")
    val nia = e.newSession(); nia.setAuth("nia")
    // catalog membership allows the narrowing; an outsider is refused
    nia.sql("SET ROLE analysts")
    assert(nia.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(2L)))
    nia.sql("RESET ROLE")
    val out = e.newSession(); out.setAuth("outsider")
    intercept[SecurityException] { out.sql("SET ROLE analysts") }
    e.close()
  }

  test("advertised DDL/maintenance permissions are actually enforced") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT user TO uma")
    val uma = e.newSession(); uma.setAuth("uma")
    uma.sql("CREATE TABLE mine (k BIGINT PRIMARY KEY)") // user: CREATE_TABLE
    uma.sql("CREATE INDEX mi ON mine (k)") // user: CREATE_INDEX
    uma.sql("INSERT INTO mine VALUES (1)")
    uma.sql("SNAPSHOT mine") // user: CREATE_SNAPSHOT
    intercept[SecurityException] { uma.sql("ALTER TABLE mine ADD COLUMN v STRING") }
    intercept[SecurityException] { uma.sql("TRUNCATE mine") } // not in user bundle
    intercept[SecurityException] { uma.sql("DROP INDEX mi") }
    intercept[SecurityException] { uma.sql("SHOW AUDIT") }
    e.sql("GRANT admin TO ada")
    val ada = e.newSession(); ada.setAuth("ada")
    ada.sql("ALTER TABLE mine ADD COLUMN v STRING")
    ada.sql("TRUNCATE mine")
    ada.sql("DROP INDEX mi")
    ada.sql("SHOW AUDIT")
    // a roleless user under the gate is default-denied DDL + metrics
    val nix = e.newSession(); nix.setAuth("nix")
    intercept[SecurityException] { nix.sql("CREATE TABLE nt (k BIGINT PRIMARY KEY)") }
    intercept[SecurityException] { nix.sql("SHOW METRICS") }
    e.sql("GRANT readonly TO rita")
    val rita = e.newSession(); rita.setAuth("rita")
    rita.sql("SHOW METRICS") // readonly: VIEW_METRICS
    e.close()
  }

  test("admins cannot grant (or strip) the superuser bundle") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT admin TO ada")
    val ada = e.newSession(); ada.setAuth("ada")
    // GRANT_ROLE does not reach superuser membership — that would be
    // a one-statement self-escalation
    intercept[SecurityException] { ada.sql("GRANT superuser TO ada") }
    e.sql("CREATE ROLE godmode WITH PERMISSIONS SUPERUSER")
    intercept[SecurityException] { ada.sql("GRANT godmode TO ada") }
    ada.sql("GRANT readonly TO someone") // ordinary bundles still work
    e.sql("GRANT superuser TO sam")
    val sam = e.newSession(); sam.setAuth("sam")
    sam.sql("GRANT godmode TO other") // a superuser-bundle holder may
    intercept[SecurityException] { ada.sql("REVOKE superuser FROM sam") }
    e.sql("REVOKE superuser FROM sam")
    e.close()
  }

  test("SET ROLE matches catalog memberships case-insensitively") {
    val e = fresh()
    e.sql("SET PRIVILEGES ON")
    e.sql("CREATE ROLE Analysts") // stored lowercased
    e.sql("GRANT SELECT ON t TO analysts")
    e.sql("GRANT Analysts TO nia")
    val nia = e.newSession(); nia.setAuth("nia")
    nia.sql("SET ROLE Analysts") // membership matched case-insensitively
    nia.sql("RESET ROLE")
    e.close()
  }

  test("VACUUM RETAIN and OPTIMIZE are superuser-only under the gate") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY)")
    e.sql("INSERT INTO t VALUES (1), (2)")
    e.sql("GRANT ALL ON t TO alice")
    e.sql("SET PRIVILEGES ON")
    val alice = e.newSession(); alice.setAuth("alice")
    // full DML rights do NOT include destroying shared history or
    // rewriting the shared checkpoint layout
    intercept[SecurityException] { alice.sql("VACUUM t RETAIN @SEQ:1") }
    intercept[SecurityException] { alice.sql("OPTIMIZE t") }
    // the superuser session can
    e.sql("OPTIMIZE t")
    e.sql("VACUUM t RETAIN @SEQ:2")
    assert(e.sql("SELECT COUNT(*) AS n FROM t").collect().head.getLong(0) === 2L)
    e.close()
  }

  test("a DML subquery needs SELECT on the table it reads") {
    val e = fresh()
    e.sql("CREATE TABLE secret2 (k BIGINT PRIMARY KEY)")
    e.sql("INSERT INTO secret2 VALUES (2)")
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT SELECT, UPDATE ON t TO alice")
    val alice = e.newSession(); alice.setAuth("alice")
    intercept[SecurityException] { alice.sql("SELECT k FROM secret2") }
    // a superuser's read of secret2 leaves nothing alice can reach
    assert(e.sql("SELECT k FROM secret2").collect() === Array(Row(2L)))
    intercept[SecurityException] {
      alice.sql("UPDATE t SET v = 'x' WHERE k IN (SELECT k FROM secret2)")
    }
    assert(e.sql("SELECT v FROM t ORDER BY k").collect() === Array(Row("a"), Row("b")))
    e.close()
  }

  test("a column alias named like a forbidden table is not a table reference") {
    val e = fresh()
    e.sql("CREATE TABLE secret (k BIGINT PRIMARY KEY)")
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT SELECT ON t TO alice")
    val alice = e.newSession(); alice.setAuth("alice")
    intercept[SecurityException] { alice.sql("SELECT k FROM secret") }
    assert(alice.sql("SELECT k AS secret FROM t ORDER BY k").collect()
      === Array(Row(1L), Row(2L)))
    e.close()
  }
}

package graft.exec

import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Encryption at rest via parquet modular encryption
  * (encryption.rs:1-1095's capability, PME-shaped): with SET
  * ENCRYPTION KEY, event-log batches and snapshots land with
  * encrypted footers (PARE magic) and are unreadable without the
  * registered master key; with the key, reads — including time travel
  * and reopen — are transparent.
  */
class EncryptionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def keyB64: String =
    java.util.Base64.getEncoder.encodeToString(Array.tabulate(32)(_.toByte))

  private def logParts(baseDir: String, table: String): Seq[java.io.File] = {
    val d = new java.io.File(s"$baseDir/tables/$table/log")
    if (!d.exists) Nil
    else d.listFiles.toSeq.filter(_.getName.startsWith("part-"))
  }

  /** Parquet magic at both ends: PAR1 plaintext, PARE encrypted footer. */
  private def magic(f: java.io.File): String = {
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    new String(bytes.takeRight(4), "US-ASCII")
  }

  test("SET ENCRYPTION KEY: writes are PARE-encrypted, reads stay transparent") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO t VALUES (1, 'plain')") // BEFORE encryption: PAR1
    e.sql(s"SET ENCRYPTION KEY '$keyB64'")
    e.sql("INSERT INTO t VALUES (2, 'secret'), (3, 'secret2')")
    e.sql("UPDATE t SET v = 'patched' WHERE k = 2")
    val parts = logParts(e.baseDir, "t")
    assert(parts.nonEmpty)
    val magics = parts.map(magic).toSet
    assert(magics.contains("PARE"), s"no encrypted file among $magics")
    assert(magics.contains("PAR1"), "pre-encryption file should stay plaintext")
    // mixed plaintext+encrypted log reads fine with the key registered
    assert(e.sql("SELECT k, v FROM t ORDER BY k").collect()
      === Array(Row(1L, "plain"), Row(2L, "patched"), Row(3L, "secret2")))
    // snapshots are encrypted too, and snapshot-accelerated reads work
    e.sql("SNAPSHOT t")
    val snaps = new java.io.File(s"${e.baseDir}/tables/t/snapshots")
      .listFiles.flatMap(_.listFiles).filter(_.getName.startsWith("part-"))
    assert(snaps.nonEmpty && snaps.forall(f => magic(f) == "PARE"))
    assert(e.sql("SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:3")
      .collect() === Array(Row(3L)))
    e.close()
  }

  test("without the master key the encrypted files are unreadable; reopen + re-key recovers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enc-").toString
    val e = new QueryEngine(spark, dir)
    e.sql(s"SET ENCRYPTION KEY '$keyB64'")
    e.sql("CREATE TABLE s (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO s VALUES (1, 'classified')")
    e.close()
    // simulate a process without the key: registry emptied
    Encryption.unregister(Encryption.MasterKeyId)
    val cold = new QueryEngine(spark, dir)
    val ex = intercept[Exception] {
      cold.sql("SELECT * FROM s").collect()
    }
    assert(ex.getMessage != null)
    cold.close()
    // handing the key back (the reopen contract) restores access
    val warm = new QueryEngine(spark, dir)
    warm.sql(s"SET ENCRYPTION KEY '$keyB64'")
    assert(warm.sql("SELECT v FROM s").collect() === Array(Row("classified")))
    // and a WRONG key must not decrypt
    val other = java.util.Base64.getEncoder.encodeToString(
      Array.tabulate(32)(i => (i + 1).toByte))
    warm.sql(s"SET ENCRYPTION KEY '$other'")
    intercept[Exception] { warm.sql("SELECT v FROM s").collect() }
    warm.sql(s"SET ENCRYPTION KEY '$keyB64'") // restore for cleanliness
    warm.close()
  }

  test("the driver-side literal staging write encrypts through the same factory") {
    // Round 17: SET ENCRYPTION KEY no longer forfeits the OLTP
    // statement floor — writeLocalParquet loads the job path's
    // PropertiesDrivenCryptoFactory itself (a bare ParquetWriter does
    // not consult the factory on its own). Pin the exact wiring: the
    // driver write reports success (no silent job fallback), the file
    // is footer-encrypted, and a normal Spark read decrypts it.
    val e = QueryEngine.scratch(spark) // registers the factory conf
    e.sql(s"SET ENCRYPTION KEY '$keyB64'")
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-encw-").toString
    val wrote = org.apache.spark.sql.GraftBridge.writeLocalParquet(df, dir,
      Map("parquet.encryption.uniform.key" -> Encryption.MasterKeyId)).isDefined
    assert(wrote, "literal frame should take the driver write")
    val parts = new java.io.File(dir).listFiles.toSeq
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(f => magic(f) == "PARE"),
      s"driver-written file not encrypted: ${parts.map(magic)}")
    assert(spark.read.parquet(dir).collect().map(_.toString).toSet
      === Set("[1,x]", "[2,y]"))
    // and the engine's own literal INSERT under encryption stays on
    // the floor: the staged log file is PARE without any job fallback
    e.sql("CREATE TABLE df (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO df VALUES (10, 'enc')")
    val logs = logParts(e.baseDir, "df")
    assert(logs.nonEmpty && logs.forall(f => magic(f) == "PARE"))
    assert(e.sql("SELECT v FROM df").collect() === Array(Row("enc")))
    e.close()
  }

  test("OPTIMIZE's clustered snapshot rewrite stays encrypted") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, a BIGINT, b BIGINT)")
    e.sql(s"SET ENCRYPTION KEY '$keyB64'")
    e.sql("INSERT INTO t SELECT id, id % 7, id % 11 FROM range(200)")
    e.sql("OPTIMIZE t ZORDER BY (a, b)")
    val snaps = new java.io.File(s"${e.baseDir}/tables/t/snapshots")
      .listFiles.flatMap(_.listFiles).filter(_.getName.startsWith("part-"))
    assert(snaps.nonEmpty && snaps.forall(f => magic(f) == "PARE"),
      "clustered rewrite produced a plaintext file")
    assert(e.sql("SELECT COUNT(*) AS n FROM t").collect() === Array(Row(200L)))
    e.close()
  }
}

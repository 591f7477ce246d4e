package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Base64
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LedgerAuth, LedgerAuthProvider, LedgerOptions}
import graft.sources.LedgerTable

/** Custom provider for the reflection-resolution path. */
class FixedHeaderAuth extends LedgerAuthProvider {
  override def clientParams(options: Map[String, String]): Map[String, String] =
    Map("authpluginclassname" -> "fixed-header", "header" -> "x-graft: 1")
  override def secretParams: Set[String] = Set("header")
}

/** Connection-auth hook (reference ViestiUtils.scala:10-51 OAuth2
  * client-credentials → data: URL blob; Utility.getAuthentication:96-117
  * provider selection): deterministic blob construction, fail-fast
  * resolution, and end-to-end secret redaction.
  */
class LedgerAuthSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val oauthOpts = Map(
    "path" -> "/tmp/x",
    "authprovider" -> "oauth2",
    "oauth2.issuerurl" -> "https://issuer.example/realm",
    "oauth2.clientid" -> "svc-graft",
    "oauth2.clientsecret" -> """s3c+"quote"\slash""")

  test("oauth2 blob: base64 data URL round-trips the client credentials") {
    val conf = LedgerAuth.clientConf(LedgerOptions.validate(oauthOpts))
    assert(conf("authpluginclassname") == "oauth2-client-credentials")
    val params = conf("authparams")
    // params JSON carries issuer + default audience and the data: URL
    assert(params.contains(""""issuerUrl":"https://issuer.example/realm""""))
    assert(params.contains(""""audience":"authn""""))
    val url = params.split(""""privateKey":"""")(1).takeWhile(_ != '"')
    assert(url.startsWith("data:application/json;base64,"))
    val blob = new String(Base64.getDecoder.decode(
      url.stripPrefix("data:application/json;base64,")), StandardCharsets.UTF_8)
    // decoded blob is the reference's client_credentials shape, with the
    // secret's quote/backslash JSON-escaped and recoverable
    assert(blob.startsWith("""{"type":"client_credentials""""))
    assert(blob.contains(""""client_id":"svc-graft""""))
    assert(blob.contains(""""issuer_url":"https://issuer.example/realm""""))
    assert(blob.contains(""""client_secret":"s3c+\"quote\"\\slash""""))
    // deterministic: same options → byte-identical blob
    assert(conf == LedgerAuth.clientConf(LedgerOptions.validate(oauthOpts)))
  }

  test("oauth2 audience override and token provider params") {
    val conf = LedgerAuth.clientConf(LedgerOptions.validate(
      oauthOpts + ("oauth2.audience" -> "broker-east")))
    assert(conf("authparams").contains(""""audience":"broker-east""""))
    val tok = LedgerAuth.clientConf(LedgerOptions.validate(
      Map("path" -> "/tmp/x", "authprovider" -> "token", "authtoken" -> "tk-123")))
    assert(tok == Map("authpluginclassname" -> "token", "authtoken" -> "tk-123"))
  }

  test("validation: missing inputs and orphaned options fail without echoing secrets") {
    val e1 = intercept[IllegalArgumentException](LedgerOptions.validate(
      oauthOpts - "oauth2.clientid"))
    assert(e1.getMessage.contains("oauth2.clientid"))
    val e2 = intercept[IllegalArgumentException](LedgerOptions.validate(
      Map("path" -> "/tmp/x", "oauth2.clientid" -> "svc")))
    assert(e2.getMessage.contains("only valid with authProvider=oauth2"))
    val e3 = intercept[IllegalArgumentException](LedgerOptions.validate(
      Map("path" -> "/tmp/x", "authprovider" -> "token")))
    assert(e3.getMessage.contains("authToken"))
    // an invalid secret VALUE reports the key only
    val e4 = intercept[IllegalArgumentException](LedgerOptions.validate(
      oauthOpts + ("oauth2.clientsecret" -> " ")))
    assert(e4.getMessage.contains("oauth2.clientsecret") && !e4.getMessage.contains("'" + " " + "'"))
  }

  test("custom provider class resolves; bad classes fail cleanly") {
    val norm = LedgerOptions.validate(
      Map("path" -> "/tmp/x", "authprovider" -> "graft.FixedHeaderAuth"))
    assert(LedgerAuth.clientConf(norm)("authpluginclassname") == "fixed-header")
    val e1 = intercept[IllegalArgumentException](LedgerAuth.clientConf(
      Map("authprovider" -> "no.such.Class")))
    assert(e1.getMessage.contains("not found"))
    val e2 = intercept[IllegalArgumentException](LedgerAuth.clientConf(
      Map("authprovider" -> "java.lang.String")))
    assert(e2.getMessage.contains("does not implement"))
  }

  test("end-to-end: authed read works, table renders redacted, blob stays off the rendered surface") {
    val root: Path = java.nio.file.Paths.get(tmp("graft_auth_topic"))
    val dir = root.resolve("partition-0")
    Files.createDirectories(dir)
    Files.write(dir.resolve("ledger-1.log"),
      Seq("k1|v1", "k2|v2").mkString("\n").getBytes(StandardCharsets.UTF_8))
    val df = spark.read.format("graft-ledger")
      .option("path", root.toString)
      .option("authProvider", "oauth2")
      .option("oauth2.issuerUrl", "https://issuer.example/realm")
      .option("oauth2.clientId", "svc-graft")
      .option("oauth2.clientSecret", "tops3cret")
      .load()
    assert(df.count() == 2)
    // the resolved params exist on the table, redacted for rendering
    val norm = LedgerOptions.validate(oauthOpts + ("path" -> root.toString))
    val table = new LedgerTable(root.toString, norm)
    assert(table.connectionConf("authparams").nonEmpty)
    val red = LedgerAuth.redactClientConf(norm, table.connectionConf)
    assert(red("authparams") == "***")
    assert(!table.toString.contains("tops3cret") &&
      !table.toString.contains("s3c+"))
    assert(table.toString.contains("oauth2.clientsecret=***"))
    // a provider that fails to resolve fails the read at planning time
    // (Spark may wrap the table-construction error — walk the causes)
    val e = intercept[Throwable] {
      spark.read.format("graft-ledger")
        .option("path", root.toString)
        .option("authProvider", "no.such.Class").load().count()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("authProvider class not found"))
  }
}

package graft.chain

import java.io.File

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

/** Per-chain configuration ingestion — the reference deploys one config
  * file per chain (`conf/{btc,ltc,bch,zec}.cfg`: coin parameters plus
  * the parser's `maxBlockNum` tip cap, e.g. /root/reference/conf/btc.cfg:20
  * `"maxBlockNum": -6`), and the export CLI is parameterized by it.
  * This module models that surface: a schema-on-read JSON load of a
  * config DIRECTORY into one chain-params row per file, from which the
  * ingest derives its per-chain tip margin (negative maxBlockNum = stay
  * N blocks behind the tip; non-negative = an absolute cap, margin 0).
  *
  * The FIXTURE config dir is parked once (content is public per-coin
  * constants, so its declaration has no sources and no fixture-mtime
  * key): four files in the reference's JSON shape, with per-chain
  * margins deliberately varied so the parameterization is observable in
  * query results.
  */
object ChainConfig {

  /** Bump on any change to [[fixtures]]. */
  private[graft] val ConfigTier = graft.ops.Tier("chaincfg", 1, Nil)

  /** Absolute fixture location — also referenced by the DuckDB oracle,
    * which re-parses the same files independently. Resolved at runtime
    * relative to the working directory, like every sibling tier — a
    * hard-coded absolute checkout path would write outside (or fail in)
    * any other checkout. */
  val FixturePath: String =
    new File(ConfigTier.root("", "conf")).getAbsolutePath

  /** Public per-coin constants in the reference's config shape. The
    * margins (parser.maxBlockNum) are fixture-varied per chain — the
    * reference ships -6 everywhere, which would make the per-chain
    * parameterization invisible in results. */
  private val fixtures: Map[String, String] = Map(
    "btc" -> chainJson("bitcoin", Seq(0), Seq(5), 481824L, "bc", -6),
    "ltc" -> chainJson("litecoin", Seq(48), Seq(50), 1201536L, "ltc", -12),
    "bch" -> chainJson("bitcoin-cash", Seq(0), Seq(5), 2147483647L,
      "NONE", -6),
    "zec" -> chainJson("zcash", Seq(28, 184), Seq(28, 189), 2147483647L,
      "NONE", -24))

  private def chainJson(coin: String, pubkey: Seq[Int], script: Seq[Int],
      segwitHeight: Long, segwitPrefix: String, maxBlockNum: Int): String =
    s"""{
       |  "chainConfig": {
       |    "coinName": "$coin",
       |    "pubkeyPrefix": [${pubkey.mkString(", ")}],
       |    "scriptPrefix": [${script.mkString(", ")}],
       |    "segwitActivationHeight": $segwitHeight,
       |    "segwitPrefix": "$segwitPrefix"
       |  },
       |  "parser": {
       |    "maxBlockNum": $maxBlockNum
       |  },
       |  "version": 5
       |}
       |""".stripMargin

  /** The parked four-file config fixture dir ([[FixturePath]]),
    * written on first access. */
  def fixtureDir(): String = {
    ConfigTier.park("", "conf") { root =>
      new File(root).mkdirs()
      fixtures.foreach { case (cur, json) =>
        java.nio.file.Files.writeString(
          new File(root, s"$cur.cfg").toPath, json)
      }
    }
    FixturePath
  }

  /** Chain-params table from a config directory: one row per `*.cfg`
    * file (currency = the file stem), flat oracle-friendly columns.
    * Schema-on-read: `multiLine` JSON (each file is ONE object, the
    * reference's layout), currency recovered from the input file name —
    * no per-chain code paths, a fifth chain is a fifth file. The
    * directory is read with a file filter, not a glob path: Spark probes
    * a read path for a streaming-sink log and warns when a glob names
    * no such file. */
  def read(s: SparkSession, confDir: String): DataFrame =
    parse(s.read.option("pathGlobFilter", "*.cfg"), confDir)

  /** One chain's params from a single cfg FILE — the export CLI's
    * `--chain-config conf/btc.cfg` shape (one file per deploy, like
    * the reference's `-c`). */
  def readFile(s: SparkSession, cfgPath: String): DataFrame =
    parse(s.read, cfgPath)

  private def parse(reader: DataFrameReader, path: String): DataFrame =
    reader.option("multiLine", "true").json(path)
      .select(
        regexp_extract(input_file_name(), "([a-z0-9]+)\\.cfg", 1)
          .as("currency"),
        col("chainConfig.coinName").as("coin_name"),
        // negative maxBlockNum = ingest to tip-|N| (the reference's
        // chain[start : maxBlockNum] slice); non-negative = absolute
        // cap, no tip-relative margin
        when(col("parser.maxBlockNum") < 0, -col("parser.maxBlockNum"))
          .otherwise(0L).cast("long").as("tip_margin"),
        col("chainConfig.segwitActivationHeight").cast("long")
          .as("segwit_activation_height"),
        col("chainConfig.segwitPrefix").as("segwit_prefix"),
        array_join(transform(col("chainConfig.pubkeyPrefix"),
          x => x.cast("string")), ",").as("pubkey_prefix"),
        array_join(transform(col("chainConfig.scriptPrefix"),
          x => x.cast("string")), ",").as("script_prefix"),
        col("version").cast("long").as("version"))
}

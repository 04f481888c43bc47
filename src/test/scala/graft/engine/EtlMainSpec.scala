package graft.engine

import graft.config.{ConfigError, ConfigParser}
import org.scalatest.funsuite.AnyFunSuite

class EtlMainSpec extends AnyFunSuite {

  test("parseArgs: --pipeline defaults to 'default'; repeated --var keep their order") {
    val cli = EtlMain.parseArgs(Array("--config", "job.yaml",
      "--var", "f=6", "--var", "b=2", "--var", "e=5", "--var", "a=1=x",
      "--var", "d=", "--var", "c=3"))
    assert(cli.config == "job.yaml" && cli.pipeline == "default")
    assert(cli.vars.toSeq == Seq("f" -> "6", "b" -> "2", "e" -> "5",
      "a" -> "1=x", "d" -> "", "c" -> "3"))
    assert(EtlMain.parseArgs(Array("--pipeline", "prod", "--config", "j.yaml"))
      .pipeline == "prod")
  }

  test("parseArgs: malformed command lines are ConfigErrors") {
    Seq(
      Array("--config", "j.yaml", "--var", "novalue"),  // --var without '='
      Array("--config", "j.yaml", "--var", "=v"),       // empty var name
      Array("--config", "j.yaml", "--pipeline"),        // flag missing its value
      Array("--config"),
      Array("--config", "j.yaml", "--verbose"),         // unknown flag
      Array("--pipeline", "prod"),                      // no --config
      Array.empty[String]
    ).foreach { args =>
      intercept[ConfigError](EtlMain.parseArgs(args))
    }
  }

  test("the job session carries graft's result settings; spark_config overrides a key") {
    val job = ConfigParser.parse(
      """job:
        |  name: conf-job
        |  type: spark-sql
        |  spark_config:
        |    - spark.sql.session.timeZone: America/New_York
        |    - spark.graft.failOnGlobalWindow: "true"
        |input_tables:
        |  - name: t
        |    source: s3
        |    location: /data/t
        |    format: parquet
        |output_table:
        |  name: o
        |  target: s3
        |  location: /out/o
        |sql: SELECT * FROM t
        |""".stripMargin)
    val conf = EtlMain.sessionConf(job).toMap
    assert(conf("spark.sql.extensions") == "graft.sql.GraftExtensions")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf("spark.graft.failOnGlobalWindow") == "true")
    assert(conf("spark.sql.session.timeZone") == "America/New_York")
  }
}

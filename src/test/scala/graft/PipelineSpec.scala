package graft

import java.io.File
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.exports.Exports
import graft.ingest.{FeedSynth, HitParser}
import graft.sources.Tables

/** End-to-end CLI pipeline (reference `main.py:167-234` parity): feed
  * files in, three Beam-named CSV export dirs out — the one-command
  * workflow VERDICT r10 flagged as the last reference-surface gap. */
class PipelineSpec extends SparkSpec {

  test("run: feed glob → hits/visits/visitors exports with Beam shard names") {
    val inDir = tempDir("graft-pipeline-in").toString
    val outDir = s"${tempDir("graft-pipeline-out")}/exports"
    val lines = FeedSynth.synthLines(Tables.events(spark, "/root/testdata/sf0.001"))
    lines.write.mode("overwrite").text(inDir)
    val nIn = lines.count()
    val nParsed = HitParser.parse(Tables.rawFeed(spark, s"$inDir/*.txt")).count()

    val (gotIn, gotParsed) = Pipeline.run(spark, s"$inDir/*.txt", outDir)

    assert(gotIn === nIn)
    assert(gotParsed === nParsed)
    assert(gotParsed < gotIn) // FeedSynth plants malformed lines — some drop
    // three export dirs, Beam shard names only (no part-* left behind)
    Seq("hits", "visits", "visitors").foreach { e =>
      val files = new java.io.File(s"$outDir/$e").listFiles()
        .map(_.getName).filter(!_.startsWith("_")).filter(!_.endsWith(".crc"))
      assert(files.nonEmpty, s"$e export missing")
      assert(files.forall(_.matches(s"$e\\.csv-\\d{5}-of-\\d{5}")),
             s"$e shard names: ${files.mkString(",")}")
    }
    // row-count consistency: one hits line per parsed hit
    assert(spark.read.csv(s"$outDir/hits").count() === nParsed)
    assert(spark.read.csv(s"$outDir/visitors").count() === nParsed)
    val nVisits = spark.read.csv(s"$outDir/visits").count()
    assert(nVisits > 0 && nVisits <= nParsed)
  }

  test("run: an empty and an all-malformed feed give exact counts and the export layout") {
    for ((name, content, want) <- Seq(("empty", "", (0L, 0L)),
                                      ("malformed", "not\ta\thit\n", (1L, 0L)))) {
      val inDir = tempDir(s"graft-pipeline-$name").toString
      Files.writeString(Path.of(s"$inDir/feed.tsv"), content)
      val outDir = tempDir("graft-pipeline-out").toString
      Files.writeString(Path.of(s"$outDir/sibling.txt"), "kept")
      // a previous run's three-shard exports, which the run replaces whole
      Exports.Names.foreach { e =>
        Files.createDirectories(Path.of(s"$outDir/$e"))
        (0 until 3).foreach { i =>
          Files.writeString(Path.of(f"$outDir/$e/$e.csv-$i%05d-of-00003"), "old")
        }
      }

      assert(Pipeline.run(spark, s"$inDir/*.tsv", outDir) === want, name)

      // the three exports, the untouched sibling, no staging directory
      assert(new File(outDir).list().filterNot(_.startsWith(".")).toSet ===
               Set("hits", "visits", "visitors", "sibling.txt"), name)
      assert(Files.readString(Path.of(s"$outDir/sibling.txt")) === "kept")
      Exports.Names.foreach { e =>
        val files = new File(s"$outDir/$e").list().filterNot(_.startsWith(".")).sorted.toSeq
        assert(files === Seq("_SUCCESS", s"$e.csv-00000-of-00001"), s"$name $e")
        assert(new File(s"$outDir/$e/$e.csv-00000-of-00001").length === 0L)
      }
    }
  }

  test("run: an all-digit ts too long for a long is counted as dropped") {
    val inDir = tempDir("graft-pipeline-overflow").toString
    Files.writeString(Path.of(s"$inDir/feed.tsv"),
      "1000\tu\t1\tTRK\t\t1\tpage\tsrv\tibm\tscv\n" +
      "99999999999999999999\tu\t1\tTRK\t\t1\tpage\tsrv\tibm\tscv\n")
    val outDir = tempDir("graft-pipeline-overflow-out").toString
    assert(Pipeline.run(spark, s"$inDir/*.tsv", outDir) === ((2L, 1L)))
    assert(spark.read.csv(s"$outDir/hits").count() === 1)
  }

  test("summaryJson: the closing line is one JSON object with the run's counts") {
    val line = Pipeline.summaryJson(10L, 7L, "out/\"x\"")
    assert(!line.contains("\n"))
    val node = new ObjectMapper().readTree(line)
    assert(node.size === 4)
    assert(node.get("input_rows").asLong === 10L)
    assert(node.get("parsed_rows").asLong === 7L)
    assert(node.get("dropped").asLong === 3L)
    assert(node.get("output").asText === "out/\"x\"")
  }

  test("parseArgs: required flags and defaults") {
    val a = Pipeline.parseArgs(Seq("--input", "in/*.gz", "--output", "out",
                                   "--encoding", "ISO-8859-1",
                                   "--master", "local[2]"))
    assert(a === Pipeline.Args("in/*.gz", "out", "ISO-8859-1", Some("local[2]")))
    assert(Pipeline.parseArgs(Seq("--input", "i", "--output", "o")) ===
      Pipeline.Args("i", "o"))
    intercept[IllegalArgumentException](Pipeline.parseArgs(Seq("--input", "i")))
    intercept[IllegalArgumentException](
      Pipeline.parseArgs(Seq("--input", "i", "--output", "o", "--bogus")))
  }

  test("masterToSet: --master wins, a launcher's master is kept, else local[*]") {
    assert(Pipeline.masterToSet(Some("local[2]"), Some("yarn")) === Some("local[2]"))
    assert(Pipeline.masterToSet(None, Some("yarn")) === None)
    assert(Pipeline.masterToSet(None, None) === Some("local[*]"))
  }
}

package graft

import java.nio.file.{Files, Paths}

/** The one staged-directory cache ([[Staged]]) and the scale tiers built
  * through it: a token match is a hit, any other token rebuilds, and a
  * failed build never leaves a marker that could bless its leftovers. */
class StagedSpec extends SparkSpec {

  test("Staged.ensure: a hit runs no build, a moved token rebuilds, a failed build leaves no marker") {
    val dir = tempDir("graft-staged").resolve("d").toString
    val marker = Paths.get(dir, Staged.Marker)
    var builds = 0
    def build(): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, "data"), s"build $builds")
    }
    assert(Staged.ensure(dir, "t1")(build()) === dir)
    assert(builds === 1 && Files.readString(marker) === "t1")
    // a hit runs no build and touches the marker: its mtime is last use
    Files.setLastModifiedTime(marker, java.nio.file.attribute.FileTime.fromMillis(0L))
    Staged.ensure(dir, "t1")(build())
    assert(builds === 1, "a hit rebuilt")
    assert(Files.getLastModifiedTime(marker).toMillis > 0L, "a hit did not touch the marker")
    Staged.ensure(dir, "t2")(build())
    assert(builds === 2 && Files.readString(marker) === "t2")
    assert(Files.readString(Paths.get(dir, "data")) === "build 2")
    // a build that throws leaves no valid marker, so even the token the
    // directory held before is rebuilt on the next call
    val e = intercept[RuntimeException](Staged.ensure(dir, "t3") {
      builds += 1
      sys.error("planted build failure")
    })
    assert(e.getMessage === "planted build failure")
    assert(!Files.exists(marker), "a failed build left a marker")
    Staged.ensure(dir, "t2")(build())
    assert(builds === 4 && Files.readString(marker) === "t2")
  }

  test("a scale tier rebuilds after a source table is replaced by different content with an older mtime") {
    val src = tempDir("graft-tier-src")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sf001), src.toFile)
    val out = tempDir("graft-tier-out").toString
    // every table at t0 - 1 h, region (the newest table) at t0
    val t0 = System.currentTimeMillis() - 24L * 3600 * 1000
    def stamp(p: java.nio.file.Path, t: Long): Unit = {
      Option(p.toFile.listFiles()).toSeq.flatten.foreach(_.setLastModified(t))
      p.toFile.setLastModified(t): Unit
    }
    Option(src.toFile.listFiles()).toSeq.flatten.foreach(f => stamp(f.toPath, t0 - 3600000L))
    val region = src.resolve("region.parquet")
    stamp(region, t0)
    Bench.ensureSf1(spark, src.toString, out)
    assert(spark.read.parquet(s"$out/region.parquet").count() === 5)
    // replace region by two of its rows, stamped older than the table it
    // replaces (an mtime-preserving copy of an older regeneration)
    spark.read.parquet(region.toString).limit(2)
      .write.parquet(src.resolve("region.new").toString)
    org.apache.commons.io.FileUtils.forceDelete(region.toFile)
    Files.move(src.resolve("region.new"), region)
    stamp(region, t0 - 1800000L)
    Bench.ensureSf1(spark, src.toString, out)
    assert(spark.read.parquet(s"$out/region.parquet").count() === 2,
      "the tier still serves the replaced region table")
  }
}

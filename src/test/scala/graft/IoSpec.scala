package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.io.{Datasets, EdgeListReader, Sinks}
import graft.model.GraphOps

/** Reader/sink specs over on-disk fixtures (reference grammar:
  * datasets.py:306-683). */
class IoSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val dir = tempDir("graft-io")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("snap reader: comments skipped, undirected, deduped") {
    val p = write("g.txt",
      """# comment line
        |# another
        |0 1
        |1 0
        |1 2
        |2 3
        |2 3
        |""".stripMargin)
    val g = EdgeListReader.snap(spark, p)
    assert(g.count() == 3) // (0,1),(1,2),(2,3)
    assert(GraphOps.isCanonical(g))
  }

  test("matrix market reader: % comments + dims line skipped, 1-based shifted") {
    val p = write("g.mtx",
      """%%MatrixMarket matrix coordinate pattern symmetric
        |% a comment
        |4 4 3
        |1 2
        |2 3
        |3 4
        |""".stripMargin)
    val g = EdgeListReader.matrixMarket(spark, p)
    assert(g.count() == 3)
    // 0-based after the -1 shift
    assert(g.agg(min("src")).collect()(0).getLong(0) == 0)
    assert(g.agg(max("dst")).collect()(0).getLong(0) == 3)
  }

  test("dataset catalog: named entry resolves by canonical filename") {
    // gzipped fixture under the catalog's canonical name, loaded via the
    // one-call load_dataset UX (datasets.py:726-758)
    val dir = tempDir("graft-catalog")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("facebook_combined.txt.gz")))
    gz.write("# fb fixture\n0 1\n1 2\n2 0\n1 0\n".getBytes)
    gz.close()
    val info = Datasets.catalog("snap-facebook_combined")
    assert(info.nodes == 4039L && info.edges == 88234L && !info.directed)
    val g = Datasets.load(spark, "snap-facebook_combined", dir.toString)
    assert(g.count() == 3)
    assert(GraphOps.isCanonical(g))
    // listing covers all 8 names and documents the pre-fetch contract
    val listed = Datasets.list(spark)
    assert(listed.count() == 8)
    assert(listed.columns.contains("file_name") && listed.columns.contains("url"))
    // expectedPath names exactly the file load() resolves — the
    // documented S17 target for the user's own fetch step
    assert(Datasets.expectedPath("snap-facebook_combined", dir.toString) ==
      dir.resolve("facebook_combined.txt.gz").toString)
    intercept[RuntimeException] { Datasets.expectedPath("snap-nope", "/x") }
    // a non-catalog name still loads by direct path
    assert(Datasets.load(spark, "snap-adhoc",
      dir.resolve("facebook_combined.txt.gz").toString).count() == 3)
  }

  test("matrix market: data row textually equal to the dims line survives") {
    // header "4 5 3" and the weighted edge "4 5 3" are byte-identical;
    // only the POSITIONAL first line may be dropped.
    val p = write("h.mtx",
      """%%MatrixMarket matrix coordinate integer general
        |4 5 3
        |1 2
        |4 5 3
        |2 3
        |""".stripMargin)
    val g = EdgeListReader.matrixMarket(spark, p)
    assert(g.count() == 3, s"expected 3 edges, got ${g.count()}")
    assert(g.agg(max("dst")).collect()(0).getLong(0) == 4) // edge (3,4) kept
  }

  test("csv graph reader: id remap drops unknown endpoints") {
    val nodes = write("nodes.csv", "id\np1\np2\np3\n")
    val cites = write("cites.csv",
      "source,target\np1,p2\np2,p3\np1,unknown\nunknown,p2\n")
    val g = EdgeListReader.csvGraph(spark, nodes, cites)
    assert(g.count() == 2) // unknown endpoints dropped (inner joins)
    assert(GraphOps.isCanonical(g))
    assert(g.agg(max("dst")).collect()(0).getLong(0) <= 2)
  }

  test("dataset dispatcher routes by prefix and rejects unknown") {
    val p = write("g.edges", "0 1\n1 2\n")
    assert(Datasets.load(spark, "edges-fixture", p).count() == 2)
    intercept[RuntimeException] {
      Datasets.load(spark, "nope-fixture", p)
    }
  }

  test("csv sink round-trips; markdown/latex/html render") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("b", 2.5)).toDF("name", "value")
    val dir = tempDir("graft-sink").resolve("out").toString
    EdgeListReader.writeCsv(df, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 2)
    val md = Sinks.markdown(df)
    assert(md.contains("| name | value |") && md.contains("| b | 2.5000 |"))
    assert(Sinks.latex(df).contains("\\begin{tabular}{ll}"))
    assert(Sinks.html(df).contains("<th>name</th>"))
  }

  test("svg scatter sink: faceted points + one OLS trendline per facet") {
    import spark.implicits._
    // two facets: 'deg' perfectly linear (trendline through the data),
    // 'pr' with spread; plus a NaN row that must be dropped
    val df = (Seq.tabulate(20)(i => (i.toDouble, 2.0 * i + 1, "deg")) ++
      Seq.tabulate(20)(i => (i.toDouble, (i % 5).toDouble, "pr")) :+
      (Double.NaN, 1.0, "deg"))
      .toDF("radius", "centrality", "measure")
    val svg = Sinks.svgScatter(df, "radius", "centrality", "measure",
      title = "radius vs centrality")
    assert(svg.startsWith("<svg ") && svg.endsWith("</svg>"))
    assert(svg.sliding(7).count(_ == "<circle") == 40) // NaN row dropped
    assert(svg.sliding(5).count(_ == "<line") == 2)    // one OLS per facet
    assert(svg.contains(">deg<") && svg.contains(">pr<"))
    // bounded-input contract is enforced, not silently sampled
    intercept[IllegalArgumentException] {
      Sinks.svgScatter(df, "radius", "centrality", "measure", maxPoints = 5)
    }
  }

  test("subsample keeps induced edges only; stats are consistent") {
    val g = graft.gen.Generators.roadNetwork(spark, 10, 10)
    val sub = GraphOps.subsample(g, 0.5, 7)
    // every endpoint of the subgraph survives the vertex sample
    val kept = GraphOps.vertices(sub)
    assert(sub.count() < g.count())
    val (n, m, density, avgDeg) = GraphOps.stats(g)
    assert(n == 100 && m == 180)
    assert(math.abs(density - 2.0 * 180 / (100 * 99)) < 1e-12)
    assert(math.abs(avgDeg - 3.6) < 1e-12)
  }

  test("random baseline influence lies within [k, n]") {
    val g = graft.gen.Generators.roadNetwork(spark, 5, 5)
    val mean = graft.influence.Influence.randomBaseline(spark, g, 3, 0.3,
      trials = 2, seed = 5)
    assert(mean >= 3.0 && mean <= 25.0)
  }

  test("fetch: download caches by existence; overwrite refetches (S17)") {
    import graft.io.Fetch
    val dir = tempDir("graft-fetch")
    val src = dir.resolve("remote.txt")
    Files.writeString(src, "v1")
    val dest = dir.resolve("cache/local.txt").toFile
    Fetch.download(src.toUri.toString, dest)
    assert(Files.readString(dest.toPath) == "v1")
    // cache-by-existence: a changed origin is NOT refetched...
    Files.writeString(src, "v2")
    Fetch.download(src.toUri.toString, dest)
    assert(Files.readString(dest.toPath) == "v1")
    // ...unless overwrite is requested
    Fetch.download(src.toUri.toString, dest, overwrite = true)
    assert(Files.readString(dest.toPath) == "v2")
    // no .part residue from the temp-rename protocol
    assert(!new java.io.File(dest.getPath + ".part").exists())
  }

  test("fetch: gz / zip / tar.gz extract round-trips (S17)") {
    import graft.io.Fetch
    val dir = tempDir("graft-extract").toFile
    // single-file .gz -> stem (datasets.py:108-113 semantics)
    val gzf = new java.io.File(dir, "edges.txt.gz")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gzf))
    gz.write("0 1\n1 2\n".getBytes); gz.close()
    val Seq(plain) = Fetch.extract(gzf)
    assert(plain.getName == "edges.txt" &&
      Files.readString(plain.toPath) == "0 1\n1 2\n")
    // zip with a nested dir entry
    val zipf = new java.io.File(dir, "bundle.zip")
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipf))
    zos.putNextEntry(new java.util.zip.ZipEntry("sub/a.txt"))
    zos.write("alpha".getBytes); zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("b.txt"))
    zos.write("beta".getBytes); zos.closeEntry(); zos.close()
    val zdest = new java.io.File(dir, "zout")
    val unzipped = Fetch.extract(zipf, Some(zdest)).map(_.getName).toSet
    assert(unzipped == Set("a.txt", "b.txt"))
    assert(Files.readString(new java.io.File(zdest, "sub/a.txt").toPath) == "alpha")
    // tar.gz via commons-compress
    val tarf = new java.io.File(dir, "bundle.tar.gz")
    val tos = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(tarf)))
    val entry = new org.apache.commons.compress.archivers.tar.TarArchiveEntry("c.txt")
    val payload = "gamma".getBytes
    entry.setSize(payload.length)
    tos.putArchiveEntry(entry); tos.write(payload)
    tos.closeArchiveEntry(); tos.close()
    val tdest = new java.io.File(dir, "tout")
    assert(Fetch.extract(tarf, Some(tdest)).map(_.getName) == Seq("c.txt"))
    assert(Files.readString(new java.io.File(tdest, "c.txt").toPath) == "gamma")
    // non-archive passes through untouched
    val raw = new java.io.File(dir, "plain.txt")
    Files.writeString(raw.toPath, "x")
    assert(Fetch.extract(raw) == Seq(raw))
  }

  test("fetch: zip-slip traversal entry is refused (S17)") {
    import graft.io.Fetch
    val dir = tempDir("graft-slip").toFile
    val zipf = new java.io.File(dir, "evil.zip")
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipf))
    zos.putNextEntry(new java.util.zip.ZipEntry("../../escape.txt"))
    zos.write("nope".getBytes); zos.closeEntry(); zos.close()
    intercept[IllegalArgumentException] {
      Fetch.extract(zipf, Some(new java.io.File(dir, "out")))
    }
  }

  test("fetch: fetchAndLoad downloads a catalog dataset then parses it (S17+S18)") {
    import graft.io.Fetch
    val dir = tempDir("graft-fal")
    // stage a fake origin for the catalog's canonical file, then point
    // a file:// catalog clone at it by pre-seeding the cache path —
    // fetchAndLoad must skip the (network) fetch via cache-by-existence
    // and still parse through the snap reader
    val root = dir.resolve("root")
    Files.createDirectories(root)
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(root.resolve("facebook_combined.txt.gz")))
    gz.write("# fb\n0 1\n1 2\n2 0\n".getBytes); gz.close()
    val g = Fetch.fetchAndLoad(spark, "snap-facebook_combined", root.toString)
    assert(g.count() == 3 && GraphOps.isCanonical(g))
  }

  test("io oracle fixtures parse to the expected canonical edge sets") {
    import graft.queries.IoQueries
    val snap = EdgeListReader.snap(spark, IoQueries.snapFixture())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snap == Set((1L, 2L), (3L, 4L), (7L, 9L), (2L, 5L)))
    val mtx = EdgeListReader.matrixMarket(spark, IoQueries.mtxFixture())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mtx == Set((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (1L, 4L)))
    val edges = EdgeListReader.edges(spark, IoQueries.edgesFixture())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((10L, 20L), (20L, 30L), (10L, 30L), (40L, 50L)))
    val (nodes, cites) = IoQueries.csvGraphFixture()
    val csv = EdgeListReader.csvGraph(spark, nodes, cites)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // p01->0..p05->4; unknown endpoints and the self-cite drop out
    assert(csv == Set((0L, 1L), (2L, 4L), (1L, 3L)))
  }
}

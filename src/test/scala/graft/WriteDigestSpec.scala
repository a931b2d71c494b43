package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.pipeline.{Similarity, VectorIndex}
import graft.streaming.{IndexManifest, IvfStream, ModelStore}

/** The write side of every index tier pinned by digest, on the sf0.001
  * embeddings: the rows each tier encodes at ingest (with and without a
  * metadata column), the rows a streamed trigger installs, the staleness
  * row it logs, a fired maintenance (rewritten rows, new model rows and
  * report), every rung's `*BuildIndex` frame and `*WriteIndex` directory
  * (its file listing and what its `*ReadIndex` reads back), the
  * [[ModelStore]] round trip of every model kind, and the IVF-PQ
  * refresh on an enrolled and an un-enrolled layout. A digest is the
  * SHA-256 of the sorted rows with the columns taken in name order, so
  * a change to one value, one row or one written file fails here while
  * a column reordering does not. */
class WriteDigestSpec extends SparkSpec {

  private lazy val e = {
    val df = Tables.embeddings(spark, sf).cache()
    df.count()
    df
  }
  private lazy val cols = e.select("vec_id", "embedding", "label")
  /** The same vectors shifted off the trained quantizers, under new ids. */
  private lazy val drifted = e.select((col("vec_id") + 100000L).as("vec_id"),
    transform(col("embedding"), x => x + lit(3.0f)).as("embedding"),
    col("label"))

  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case a: Array[_] => a.map(show).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case o => o.toString
  }

  private def sha(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Rows of `df`, columns by name, as one digest. */
  private def rows(df: DataFrame): String = {
    val names = df.columns.sorted
    sha(names.mkString(",") +: df.select(names.map(col): _*).collect()
      .map(r => r.toSeq.map(show).mkString("|")).toSeq)
  }

  private def model(q: ModelStore.QuantizerModel): String = q match {
    case ModelStore.FloatCenters(cs) => sha(Seq("float", show(cs)))
    case ModelStore.BqCenters(cs) => sha(Seq("bq", show(cs)))
    case ModelStore.SqQuantizer(cs, c) =>
      sha(Seq("sq", show(cs), show(c.mins), show(c.maxs)))
    case ModelStore.PqQuantizer(m) =>
      sha(Seq("pq", s"${m.dim}/${m.m}", show(m.centers), show(m.codebooks),
        show(m.rotation.orNull)))
  }

  /** Every file under `dir`, relative, with part-file numbers and ids
    * blanked (how many parts a leaf holds is not pinned). */
  private def listing(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try sha(files.iterator().asScalaIterator
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => root.relativize(p).toString
        .replaceAll("part-\\d+-[0-9a-f-]{36}[.-]c\\d+", "part"))
      .toSeq.distinct)
    finally files.close()
  }

  private implicit class JIter[A](it: java.util.Iterator[A]) {
    def asScalaIterator: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  /** The rows of every parquet part of the newest model epoch. */
  private def newestModelRows(dir: String): String = {
    val gen = ModelStore.listGens(spark, dir).max
    val base = java.nio.file.Paths.get(dir, "_models", f"gen-$gen%09d")
    val parts = java.nio.file.Files.list(base)
    try sha(parts.iterator().asScalaIterator.map(_.getFileName.toString)
      .toSeq.sorted.map(p => s"$p:" + rows(spark.read.parquet(s"$base/$p"))))
    finally parts.close()
  }

  private def check(got: Seq[(String, String)]): Unit = {
    val wrong = got.flatMap { case (name, d) =>
      if (expected.get(name).contains(d)) None
      else Some(s"\"$name\" -> \"$d\"")
    }
    assert(wrong.isEmpty, wrong.mkString("digest mismatch:\n", ",\n", ""))
  }

  private val tiers: Seq[(String, VectorIndex.Tier)] = Seq(
    ("float", VectorIndex.FloatTier),
    ("matryoshka", VectorIndex.MatryoshkaTier(prefixDims = 16)),
    ("sq8", VectorIndex.Sq8Tier),
    ("bq", VectorIndex.BqTier),
    ("pq", VectorIndex.PqTier(m = 8, nCodes = 16)),
    ("opq", VectorIndex.PqTier(m = 8, nCodes = 16, opq = true, opqIters = 3)))

  private val expected: Map[String, String] = Map(
    "bq.ingest" -> "e37ba298f5404d0ad2026835354fe1091dc274ca5fdd3503d73caf6c68eeaa65",
    "bq.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "bq.maintain.files" -> "05e610b881726d287dd5ae06513e3b737150922506e684902ed709d96eb03792",
    "bq.maintain.model" -> "69b64b6973c5db41fa77656792b37585900d0722b3d089e752917845cd9c91f3",
    "bq.maintain.report" -> "38c2af39118a661e310942ede5a3765783ef35d868de303b9cfa979fe1dd67aa",
    "bq.maintain.rows" -> "dcc246e408c0ff9828be7ff47622de1acea11dd0209310bd4428eada20a90e15",
    "bq.meta.ingest" -> "896015ea2f3b7e7f0a7de531e2637268c31fcc87e19322f5a0521d08750b0654",
    "bq.meta.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "bq.meta.maintain.files" -> "05e610b881726d287dd5ae06513e3b737150922506e684902ed709d96eb03792",
    "bq.meta.maintain.model" -> "69b64b6973c5db41fa77656792b37585900d0722b3d089e752917845cd9c91f3",
    "bq.meta.maintain.report" -> "38c2af39118a661e310942ede5a3765783ef35d868de303b9cfa979fe1dd67aa",
    "bq.meta.maintain.rows" -> "3829e40121e62b3ec6bd5debc939be7e730f7d5bb845b4048baac89662c58bc9",
    "bq.meta.staleness" -> "ba608a7371cc12c332305517827bfd9eccb4819e062a083a99baa1024ed93f87",
    "bq.meta.stream" -> "6b117a6e54049448ba7608e0069c17d45d62470af3249ae36c14baf405317b6a",
    "bq.staleness" -> "ba608a7371cc12c332305517827bfd9eccb4819e062a083a99baa1024ed93f87",
    "bq.stream" -> "5ac3ed67b8c8c25ca9c23fca6674f9f76c2babd9747e264550d46021b738ae3a",
    "build.ivfBq" -> "b1b43da953ffc652f22c8b5c3daa48b0661ed9e73648485ea21dfb8f7a485cd4",
    "build.ivfOpq" -> "de18544deec9b654708a925adced6ba9824f0b945a0de686dac35b97684d779e",
    "build.ivfPq" -> "75b603c6736860753eeecbbf9a9e424cb7001650509109b80ef5b054bf974d0f",
    "build.ivfSq" -> "ee9c1ca0c9940726abdbbbb83ad03140cab77ff79b559c8b7efe6309b1c7299d",
    "build.matryoshka" -> "627a5250ac0b86edc67b527fe73b0a27f9e55e11ce817bc15ff7bd3645fbd910",
    "build.sq" -> "8c722c86ccebce260e6abbbfe68e5fde91aa40f46eea332b7cd2b2ad23c5da25",
    "float.ingest" -> "b6ca6c9433e315db021900eb6811023a0aea38a91976b71590ffe2cf4f86bc78",
    "float.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "float.maintain.files" -> "05e610b881726d287dd5ae06513e3b737150922506e684902ed709d96eb03792",
    "float.maintain.model" -> "129b7e0d258c150772aa4572fb564b28e3bbadeb68d3ca41ffb57bd15936622e",
    "float.maintain.report" -> "38c2af39118a661e310942ede5a3765783ef35d868de303b9cfa979fe1dd67aa",
    "float.maintain.rows" -> "e6ce334686b07d6786efef0cd3b034f413812948eef29bd79c290846a7cf0b9b",
    "float.meta.ingest" -> "d0bca7576b10cdd1edde844f8bd20911a4aa59623797538962c1988f96dd3b01",
    "float.meta.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "float.meta.maintain.files" -> "05e610b881726d287dd5ae06513e3b737150922506e684902ed709d96eb03792",
    "float.meta.maintain.model" -> "129b7e0d258c150772aa4572fb564b28e3bbadeb68d3ca41ffb57bd15936622e",
    "float.meta.maintain.report" -> "38c2af39118a661e310942ede5a3765783ef35d868de303b9cfa979fe1dd67aa",
    "float.meta.maintain.rows" -> "988564ce156e89b40aa55967f1ffe999a4c07b09d13068edddaa46012a7bb4d9",
    "float.meta.staleness" -> "ba608a7371cc12c332305517827bfd9eccb4819e062a083a99baa1024ed93f87",
    "float.meta.stream" -> "070d1f7a1f5181419e199bcbbd581632e84915f9d032e030ea319442dc114f90",
    "float.staleness" -> "ba608a7371cc12c332305517827bfd9eccb4819e062a083a99baa1024ed93f87",
    "float.stream" -> "775f143257732c645908bae3529ec06dcf4574c8ab821cdf6c4dfb7fc59adcf3",
    "matryoshka.ingest" -> "7f4217cec5d6b9518b2a8ec0a747980f939bf5ad26ea2782d06877fbd9743df7",
    "matryoshka.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "matryoshka.maintain.files" -> "a39d4903099d70a68175b3c6bfa5926849a2ec5668475748da64b03329e73233",
    "matryoshka.maintain.model" -> "1687c599c7327a9fd560b116b14bb715e4b6dc3885d8385952940c7d12ebb696",
    "matryoshka.maintain.report" -> "c97860f66f55ef991aea0a9f7b274edfda403d60f39b5f816edb21f21046d79f",
    "matryoshka.maintain.rows" -> "8bbf783be7ea68e40c41c4ccd113896c4f8e1d1b3c3b134c4b8313f05307d2bf",
    "matryoshka.meta.ingest" -> "e0233abd269e045c56e708fd93eca4724c0321b5c7f52bb7e42074912ba47093",
    "matryoshka.meta.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "matryoshka.meta.maintain.files" -> "a39d4903099d70a68175b3c6bfa5926849a2ec5668475748da64b03329e73233",
    "matryoshka.meta.maintain.model" -> "1687c599c7327a9fd560b116b14bb715e4b6dc3885d8385952940c7d12ebb696",
    "matryoshka.meta.maintain.report" -> "c97860f66f55ef991aea0a9f7b274edfda403d60f39b5f816edb21f21046d79f",
    "matryoshka.meta.maintain.rows" -> "481c3b2d545cec70e46971f1b44c9b2d1448ab0945585e76dd2fa6bfaf686a9f",
    "matryoshka.meta.staleness" -> "928cccca9efcd80744fa3f1f300341fc6a75b14fc72c496dd630888e8af24325",
    "matryoshka.meta.stream" -> "e0a253aacd4f10f65ddc664466e53329130cdc0f6e99f4eb0370ef48877d9387",
    "matryoshka.staleness" -> "928cccca9efcd80744fa3f1f300341fc6a75b14fc72c496dd630888e8af24325",
    "matryoshka.stream" -> "0b69d17dc5cf14dafa1600ec96bd056c7f8828d2deef40b27198372a6acf7fd2",
    "opq.ingest" -> "5b8169447e190651ca6fd432adc63cf509bb0649612c1cad782f58efa3b0fb8a",
    "opq.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "opq.maintain.files" -> "c26a3d2aba3954e3d0475e4b730fe59e26b6715056a157a80ddd94e035601d98",
    "opq.maintain.model" -> "7feded476c64dc18da4eee5989e117fac1e0433c4a1115ad2d06e88e1150f72c",
    "opq.maintain.report" -> "83efdea9a2ed9288a0c599e8d224261ff528a292f3e2c5b5d5362cb29720ed06",
    "opq.maintain.rows" -> "512541eb306d075f12b1de467dddb39f9597e6baeccafe9a83ea5154ae38a2d6",
    "opq.meta.ingest" -> "12a8253e548b596adbcb98ae5dea02b2e2a54b65526f30e046684592b80da3d8",
    "opq.meta.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "opq.meta.maintain.files" -> "c26a3d2aba3954e3d0475e4b730fe59e26b6715056a157a80ddd94e035601d98",
    "opq.meta.maintain.model" -> "7feded476c64dc18da4eee5989e117fac1e0433c4a1115ad2d06e88e1150f72c",
    "opq.meta.maintain.report" -> "83efdea9a2ed9288a0c599e8d224261ff528a292f3e2c5b5d5362cb29720ed06",
    "opq.meta.maintain.rows" -> "19e3c56b02017971241e38452bfb425fd1ae6a6ec9fc42e2e6aea5c2a678944e",
    "opq.meta.staleness" -> "4341b94072499aa94cbdb94612d84d69f101c1ca9dc733ca4a373f73a51143de",
    "opq.meta.stream" -> "175f2c13429c25bfc63d2562f3c22d5925a766b1bb61ed702acf3349f716c6ed",
    "opq.staleness" -> "4341b94072499aa94cbdb94612d84d69f101c1ca9dc733ca4a373f73a51143de",
    "opq.stream" -> "daa4b6c8a3ff1c1b7560d746f7a424a2bc03e9a1e0c27e7425193b5299513c41",
    "pq.ingest" -> "463f4f43273fdbff5e8630a7ac823367d02222cf75deb34579603d97471b4c5d",
    "pq.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "pq.maintain.files" -> "494b5cb04eecde3bff4e4ddeb418d9dbf597486aef7dc0886d31511af986d621",
    "pq.maintain.model" -> "4ec76b8ddb80f91c6dd6afc02e28911c457565c2fb34e55ae2a724e1c7d6c727",
    "pq.maintain.report" -> "83efdea9a2ed9288a0c599e8d224261ff528a292f3e2c5b5d5362cb29720ed06",
    "pq.maintain.rows" -> "f30c22112ecd40322c2e2dc3c7fe5e1b558747a13bf5aa09ac09223deceba5ec",
    "pq.meta.ingest" -> "71da39125cdbdece7f44a2ab533793d9891e45c37acd78d24adf55ec9cc6b086",
    "pq.meta.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "pq.meta.maintain.files" -> "494b5cb04eecde3bff4e4ddeb418d9dbf597486aef7dc0886d31511af986d621",
    "pq.meta.maintain.model" -> "4ec76b8ddb80f91c6dd6afc02e28911c457565c2fb34e55ae2a724e1c7d6c727",
    "pq.meta.maintain.report" -> "83efdea9a2ed9288a0c599e8d224261ff528a292f3e2c5b5d5362cb29720ed06",
    "pq.meta.maintain.rows" -> "ef2dbd1127a8bea6c4dcf83b90782965a4ad944f940f82c5f9e809f165a3fbaf",
    "pq.meta.staleness" -> "4341b94072499aa94cbdb94612d84d69f101c1ca9dc733ca4a373f73a51143de",
    "pq.meta.stream" -> "48ae90692c638a4e898fb77fa64480c07c803fafd6af29139ac4b318fd38b590",
    "pq.staleness" -> "4341b94072499aa94cbdb94612d84d69f101c1ca9dc733ca4a373f73a51143de",
    "pq.stream" -> "34bd18ed7c87160f0ceca10e2dbf7afd700f23b3e28af58637e5b20cf2277376",
    "refresh.enrolled.files" -> "981a745f04fac84449d558e84f24f670ac09f24ccd62d69aaf0933040b230846",
    "refresh.enrolled.mirror" -> "3e77243cf074db10bae43c6817017195ad0088a4bd06aeb05ca997356c1a40ad11dc4d349c40ed1c93a7d242ed541aa2ae4c08901c872be99335ce15c9565d1f",
    "refresh.enrolled.model" -> "d12a85904e60f3993dd32e6d8e06d593f29c4178ce749b8b7111279850b66e86",
    "refresh.enrolled.pinned.model" -> "cafa5d8834f86737068f5e9224fc230c153804825ade3cec9d3dba48a518db08",
    "refresh.enrolled.pinned.rows" -> "de18544deec9b654708a925adced6ba9824f0b945a0de686dac35b97684d779e",
    "refresh.enrolled.rows" -> "8171acc60e9d417510455fd47b249158d3defeab57a845f430efde616cebabdd",
    "refresh.plain.files" -> "92001a85dd77fa4b922aa4ca7c3486086d092405fe168d245de7783c0525a5c6",
    "refresh.plain.model" -> "d12a85904e60f3993dd32e6d8e06d593f29c4178ce749b8b7111279850b66e86",
    "refresh.plain.rows" -> "8171acc60e9d417510455fd47b249158d3defeab57a845f430efde616cebabdd",
    "sq8.ingest" -> "a1085bf92b2bd3b9477b128bc82380e26673e32683e2f89cd80c003aa465c507",
    "sq8.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "sq8.maintain.files" -> "08de06f0f84345e4f12d70e6f6842b8c7b4b1ab435fd84a6444c28d057097b64",
    "sq8.maintain.model" -> "d025622bd9f7968a49c57755fc5b4a9de772586152c0efdb41c886db389fd45c",
    "sq8.maintain.report" -> "38c2af39118a661e310942ede5a3765783ef35d868de303b9cfa979fe1dd67aa",
    "sq8.maintain.rows" -> "eb2df8e0f18b2fb0e9809585dc3a5ffd13b31db213641dc984e9a75501eae628",
    "sq8.meta.ingest" -> "c3c44ebcbe9283b195f72aede9c0cda49e5ad61574dbd1bf7797692fe605e99d",
    "sq8.meta.ingest.files" -> "8d4c296fd1fb764e038c51ab9899514cc4830a313ea185fdd4312a3a0ef7f2e1",
    "sq8.meta.maintain.files" -> "08de06f0f84345e4f12d70e6f6842b8c7b4b1ab435fd84a6444c28d057097b64",
    "sq8.meta.maintain.model" -> "d025622bd9f7968a49c57755fc5b4a9de772586152c0efdb41c886db389fd45c",
    "sq8.meta.maintain.report" -> "38c2af39118a661e310942ede5a3765783ef35d868de303b9cfa979fe1dd67aa",
    "sq8.meta.maintain.rows" -> "c21bf06f82cf9be91393074b209b3ec0db3af7cf2e5f1e395350585d67a50ae7",
    "sq8.meta.staleness" -> "ba608a7371cc12c332305517827bfd9eccb4819e062a083a99baa1024ed93f87",
    "sq8.meta.stream" -> "8511f2c728496960a7aecf7d7a48a4977572839a63a5f7c225713420763b5f57",
    "sq8.staleness" -> "ba608a7371cc12c332305517827bfd9eccb4819e062a083a99baa1024ed93f87",
    "sq8.stream" -> "ef11f8214f514c25953b02709e438e81351e771efff37cbd0550cc0d05be2a09",
    "store.bq.files" -> "178564a2e44b15562c378126fe2bccbab8c001f2e0393cb0b70f00bb6b79ad34",
    "store.bq.model" -> "d3e896df4d2786a87a3765509af98e91db75eec5e70712fc32dcaab171871f3f",
    "store.bq.rows" -> "5355d5b882991257ea8d3065b7289541dd538ec0416fd498c2445e8fc12d1e5e",
    "store.float.files" -> "178564a2e44b15562c378126fe2bccbab8c001f2e0393cb0b70f00bb6b79ad34",
    "store.float.model" -> "6dd9efb136dadaddfdfaae4f8ed4c305a5a69172fee34dbc24ce0cb4ad654c43",
    "store.float.rows" -> "62840c8c94797405955127508af8909812bf64126455fce680193bbc45c1868d",
    "store.opq.files" -> "3fa6aa3d8b4af0ff4f312f74bcfdc31666b496ca8b9eddeb21fca3f5f16d962d",
    "store.opq.model" -> "cafa5d8834f86737068f5e9224fc230c153804825ade3cec9d3dba48a518db08",
    "store.opq.rows" -> "85506aad63caff48600973735782890c0c8399ea3fd33f88d3a7f7e3e779f408",
    "store.pq.files" -> "4a1d02f923152afbb39dc4e0138ef5b38c74fea25c002bbc383ed1c767abed9a",
    "store.pq.model" -> "e953d45420ad3f0f1e5bef1beeaebb0b42b82f7b79561229a10224ee375b9340",
    "store.pq.rows" -> "2fdec9e95753e184c8d91476b4deada6e106ac10788e4f41267f627774759eaf",
    "store.sq.files" -> "9b05873c6afa36514d908238ec356aa5d34b3d7204bcf5f74a30d89bb2ef9976",
    "store.sq.model" -> "b89043e9254b81835c64b4109f8e9529dbac5d261a9453bdcfb55b55765b9ea0",
    "store.sq.rows" -> "1894d7d9a10b5a5fefb7097af83934f1d2c1da652d960e2c9a1d3be37f7dfb67",
    "write.ivfBq.files" -> "24296e0971a5c8c1d691e6d599db4a04623986ac68c9907fe1f1c3a31786b44d",
    "write.ivfBq.model" -> "d3e896df4d2786a87a3765509af98e91db75eec5e70712fc32dcaab171871f3f",
    "write.ivfBq.rows" -> "b1b43da953ffc652f22c8b5c3daa48b0661ed9e73648485ea21dfb8f7a485cd4",
    "write.ivfOpq.files" -> "d818c76a746d2200076daa850868231160099ca934b0b585f3f657eb99bb6b1b",
    "write.ivfOpq.model" -> "cafa5d8834f86737068f5e9224fc230c153804825ade3cec9d3dba48a518db08",
    "write.ivfOpq.rows" -> "de18544deec9b654708a925adced6ba9824f0b945a0de686dac35b97684d779e",
    "write.ivfPq.files" -> "92001a85dd77fa4b922aa4ca7c3486086d092405fe168d245de7783c0525a5c6",
    "write.ivfPq.model" -> "e953d45420ad3f0f1e5bef1beeaebb0b42b82f7b79561229a10224ee375b9340",
    "write.ivfPq.rows" -> "75b603c6736860753eeecbbf9a9e424cb7001650509109b80ef5b054bf974d0f",
    "write.ivfSq.files" -> "22dcf6f0f19702350b96bf1380583e1348f86b1934e82dd00beef92fbe3eac1d",
    "write.ivfSq.model" -> "b89043e9254b81835c64b4109f8e9529dbac5d261a9453bdcfb55b55765b9ea0",
    "write.ivfSq.rows" -> "ee9c1ca0c9940726abdbbbb83ad03140cab77ff79b559c8b7efe6309b1c7299d",
    "write.matryoshka.files" -> "292491aec2a682e43ee2b9b59c5279625604427555c374026ab5ac830e078ab2",
    "write.matryoshka.model" -> "750f85dbed82d14a79b2dca27b04f2710f461d5f7de1327618b7af1ab7ae9c83",
    "write.matryoshka.rows" -> "627a5250ac0b86edc67b527fe73b0a27f9e55e11ce817bc15ff7bd3645fbd910",
    "write.sq.files" -> "e709d8d5122026bf7fbab0e299698ab602282dc60b08fede3feddb42771770e4",
    "write.sq.model" -> "fb7eec5f9a0c90a8aa6af0dd011ef7dbca549bd4a5bb521356cb29832f98b131",
    "write.sq.rows" -> "8c722c86ccebce260e6abbbfe68e5fde91aa40f46eea332b7cd2b2ad23c5da25")

  for ((name, tier) <- tiers; meta <- Seq(Seq.empty[String], Seq("label"))) {
    val tag = s"$name${if (meta.isEmpty) "" else ".meta"}"
    test(s"$tag: ingest, streamed trigger, staleness row and a fired " +
      "maintain write the pinned rows") {
      val root = tempDir(s"wd_$name").toString
      val dir = s"$root/idx"
      val params = VectorIndex.Params(tier, nLists = 4, metaCols = meta)
      val vi = VectorIndex.train(spark, e, params, dir)
      vi.ingest(spark, cols, 100L)
      val ingest = Seq(s"$tag.ingest" -> rows(spark.read.parquet(dir)),
        s"$tag.ingest.files" -> listing(dir))
      vi.enrollSnapshots(spark)
      drifted.coalesce(1).write.parquet(s"$root/in")
      val stream = spark.readStream.schema(cols.schema)
        .parquet(s"$root/in")
      val q = vi.attach(stream, s"$root/ckpt",
        stalenessDir = Some(s"$root/stale"))
      try q.processAllAvailable() finally q.stop()
      val streamed = Seq(
        s"$tag.stream" -> rows(IndexManifest.routedRead(spark, dir).get),
        s"$tag.staleness" -> rows(spark.read.parquet(s"$root/stale")))
      val (report, _) = vi.maintain(spark, s"$root/stale",
        e.unionByName(drifted), IvfStream.MaintainPolicy(meanD2Max = 0.0))
      assert(report.fired)
      check(ingest ++ streamed ++ Seq(
        s"$tag.maintain.report" -> sha(Seq(report.toString)),
        s"$tag.maintain.rows" -> rows(IndexManifest.routedRead(spark, dir).get),
        s"$tag.maintain.model" -> newestModelRows(dir),
        s"$tag.maintain.files" -> listing(dir)))
    }
  }

  test("every rung's BuildIndex frame") {
    val (_, _, sq) = Similarity.ivfSqBuildIndex(spark, e, nLists = 4)
    val (_, bq) = Similarity.ivfBqBuildIndex(spark, e, nLists = 4)
    val (_, mat) = Similarity.matryoshkaIvfBuildIndex(spark, e, dims = 16,
      nLists = 4)
    val (_, pq) = Similarity.ivfPqBuildIndex(spark, e, nLists = 4, m = 8,
      nCodes = 16)
    val (_, opq) = Similarity.ivfOpqBuildIndex(spark, e, nLists = 4, m = 8,
      nCodes = 16, iters = 3)
    val (_, flat) = Similarity.sqBuildIndex(spark, e)
    check(Seq("build.ivfSq" -> rows(sq), "build.ivfBq" -> rows(bq),
      "build.matryoshka" -> rows(mat), "build.ivfPq" -> rows(pq),
      "build.ivfOpq" -> rows(opq), "build.sq" -> rows(flat)))
  }

  test("every rung's WriteIndex directory reads back the pinned rows") {
    val root = tempDir("wd_write").toString
    val sqC = Similarity.sqWriteIndex(spark, e, s"$root/sq")
    val (sqRc, sqRows) = Similarity.sqReadIndex(spark, s"$root/sq")
    val (isC, isQ) = Similarity.ivfSqWriteIndex(spark, e, s"$root/ivfsq",
      nLists = 4)
    val (isRc, isRq, isRows) = Similarity.ivfSqReadIndex(spark, s"$root/ivfsq")
    val bqC = Similarity.ivfBqWriteIndex(spark, e, s"$root/ivfbq", nLists = 4)
    val (bqRc, bqRows) = Similarity.ivfBqReadIndex(spark, s"$root/ivfbq")
    val mC = Similarity.matryoshkaIvfWriteIndex(spark, e, s"$root/mat",
      dims = 16, nLists = 4)
    val (mRc, mRows) = Similarity.matryoshkaIvfReadIndex(spark, s"$root/mat")
    val pqM = Similarity.ivfPqWriteIndex(spark, e, s"$root/pq", nLists = 4,
      m = 8, nCodes = 16)
    val (pqRm, pqRows) = Similarity.ivfPqReadIndex(spark, s"$root/pq")
    val opqM = Similarity.ivfOpqWriteIndex(spark, e, s"$root/opq",
      nLists = 4, m = 8, nCodes = 16, iters = 3)
    val (opqRm, opqRows) = Similarity.ivfPqReadIndex(spark, s"$root/opq")
    assert(model(ModelStore.SqQuantizer(Array.empty, sqC)) ===
      model(ModelStore.SqQuantizer(Array.empty, sqRc)))
    assert(model(ModelStore.SqQuantizer(isC, isQ)) ===
      model(ModelStore.SqQuantizer(isRc, isRq)))
    assert(model(ModelStore.BqCenters(bqC)) === model(ModelStore.BqCenters(bqRc)))
    assert(model(ModelStore.FloatCenters(mC)) ===
      model(ModelStore.FloatCenters(mRc)))
    assert(model(ModelStore.PqQuantizer(pqM)) ===
      model(ModelStore.PqQuantizer(pqRm)))
    assert(model(ModelStore.PqQuantizer(opqM)) ===
      model(ModelStore.PqQuantizer(opqRm)))
    check(Seq(
      "write.sq.model" -> model(ModelStore.SqQuantizer(Array.empty, sqRc)),
      "write.sq.rows" -> rows(sqRows), "write.sq.files" -> listing(s"$root/sq"),
      "write.ivfSq.model" -> model(ModelStore.SqQuantizer(isRc, isRq)),
      "write.ivfSq.rows" -> rows(isRows),
      "write.ivfSq.files" -> listing(s"$root/ivfsq"),
      "write.ivfBq.model" -> model(ModelStore.BqCenters(bqRc)),
      "write.ivfBq.rows" -> rows(bqRows),
      "write.ivfBq.files" -> listing(s"$root/ivfbq"),
      "write.matryoshka.model" -> model(ModelStore.FloatCenters(mRc)),
      "write.matryoshka.rows" -> rows(mRows),
      "write.matryoshka.files" -> listing(s"$root/mat"),
      "write.ivfPq.model" -> model(ModelStore.PqQuantizer(pqRm)),
      "write.ivfPq.rows" -> rows(pqRows),
      "write.ivfPq.files" -> listing(s"$root/pq"),
      "write.ivfOpq.model" -> model(ModelStore.PqQuantizer(opqRm)),
      "write.ivfOpq.rows" -> rows(opqRows),
      "write.ivfOpq.files" -> listing(s"$root/opq")))
  }

  test("ModelStore.write and readAt round-trip every model kind") {
    val root = tempDir("wd_models").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 4)
    val models: Seq[(String, ModelStore.QuantizerModel)] = Seq(
      "float" -> ModelStore.FloatCenters(centers),
      "bq" -> ModelStore.BqCenters(centers),
      "sq" -> ModelStore.SqQuantizer(centers, Similarity.sqTrain(spark, e)),
      "pq" -> ModelStore.PqQuantizer(Similarity.ivfPqTrainModel(spark, e,
        nLists = 4, m = 8, nCodes = 16)),
      "opq" -> ModelStore.PqQuantizer(Similarity.ivfOpqTrainModel(spark, e,
        nLists = 4, m = 8, nCodes = 16, iters = 3)))
    check(models.flatMap { case (name, m) =>
      val dir = s"$root/$name"
      ModelStore.write(spark, dir, 3L, m)
      val back = ModelStore.readAt(spark, dir, 5L).get
      assert(model(back) === model(m))
      Seq(s"store.$name.model" -> model(back),
        s"store.$name.rows" -> newestModelRows(dir),
        s"store.$name.files" -> listing(dir))
    })
  }

  test("ivfPqRefreshIndex on an un-enrolled and on an enrolled layout") {
    val root = tempDir("wd_refresh").toString
    def refresh(dir: String) = Similarity.ivfPqRefreshIndex(spark, e, dir,
      nLists = 4, m = 8, nCodes = 16, seed = 7)
    Similarity.ivfPqWriteIndex(spark, e, s"$root/plain", nLists = 4, m = 8,
      nCodes = 16)
    val plain = refresh(s"$root/plain")
    val (plainM, plainRows) = Similarity.ivfPqReadIndex(spark, s"$root/plain")
    assert(model(ModelStore.PqQuantizer(plain)) ===
      model(ModelStore.PqQuantizer(plainM)))
    // an OPQ layout refreshed to a plain model drops its rotation rows
    Similarity.ivfOpqWriteIndex(spark, e, s"$root/enrolled", nLists = 4,
      m = 8, nCodes = 16, iters = 3)
    val snap = Similarity.ivfPqEnrollIndex(spark, s"$root/enrolled")
    val enrolled = refresh(s"$root/enrolled")
    val (enM, enRows) = Similarity.ivfPqReadIndex(spark, s"$root/enrolled")
    val (oldM, oldRows) = Similarity.ivfPqReadIndexAt(spark,
      s"$root/enrolled", snap)
    assert(model(ModelStore.PqQuantizer(enrolled)) ===
      model(ModelStore.PqQuantizer(enM)))
    def mirror(part: String) = rows(spark.read.parquet(s"$root/enrolled/$part"))
    check(Seq(
      "refresh.plain.model" -> model(ModelStore.PqQuantizer(plainM)),
      "refresh.plain.rows" -> rows(plainRows),
      "refresh.plain.files" -> listing(s"$root/plain"),
      "refresh.enrolled.model" -> model(ModelStore.PqQuantizer(enM)),
      "refresh.enrolled.rows" -> rows(enRows),
      "refresh.enrolled.pinned.model" -> model(ModelStore.PqQuantizer(oldM)),
      "refresh.enrolled.pinned.rows" -> rows(oldRows),
      "refresh.enrolled.mirror" -> (mirror("centers") + mirror("books")),
      "refresh.enrolled.files" -> listing(s"$root/enrolled")))
  }
}

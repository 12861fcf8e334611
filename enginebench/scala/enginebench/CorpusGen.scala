package enginebench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Shape of a generated corpus: the input properties a workload varies.
  *
  * Family fractions are shares of DOCS (not of groups). `boilerHeaderShare`
  * is the share of a boilerplate doc's tokens that come from its shared
  * header; `boilerPerHeader` is how many docs share one header. Together
  * they set how much shingle mass boilerplate docs share without being
  * duplicates.
  */
final case class Shape(
    nDocs: Int,
    meanTokens: Int,
    exactFrac: Double,
    nearFrac: Double,
    containedFrac: Double,
    boilerFrac: Double,
    boilerHeaderShare: Double,
    boilerPerHeader: Int,
    files: Int) {
  require(exactFrac + nearFrac + containedFrac + boilerFrac < 1.0, "family fractions exceed 1")
}

/** One generated doc. `group` > 0 names a planted duplicate group (exact,
  * near or contained family); unique and boilerplate docs carry 0 — they
  * must not be paired with anything.
  */
final case class GenDoc(
    repo: String, path: String, commit: String, lang: String, content: String,
    family: String, group: Int, tokens: Int)

/** Seeded corpus generator with planted duplicate families (the fixture
  * families: unique, exact, near, contained, boilerplate). Pure function of
  * (shape, seed): the same pair gives the same docs in the same order.
  *
  * Near copies are built so that every copy keeps 5-shingle Jaccard ≈ 0.9
  * or more with its base (substitutions ≤ 1 per 120 tokens, plus a fresh
  * rendering of the separators so bytes — and content hashes — differ):
  * the engine's 16×8 banding finds such pairs with probability
  * > 1 − 1e-4, so recall below 0.99 is an engine fault, not generator
  * noise. Contained docs embed A (≥ 60 tokens) verbatim inside B, which
  * only the ≥ 50-token suffix pass can find.
  */
object CorpusGen {

  val Schema: StructType = StructType(Seq("repo", "path", "commit", "lang", "content")
    .map(StructField(_, StringType, nullable = false)))

  private val Vocab: Array[String] = Array.tabulate(4096) { i =>
    val stems = Array("get", "set", "val", "ptr", "buf", "idx", "len", "map", "key", "row")
    stems(i % stems.length) + Integer.toString(i, 36)
  }
  private val Langs = Array("scala", "java", "py", "js", "go")
  private val LangCum = Array(0.40, 0.65, 0.85, 0.95, 1.0)

  def generate(shape: Shape, seed: Long): Vector[GenDoc] = {
    val rnd = new SplittableRandom(seed)
    val out = Vector.newBuilder[GenDoc]
    var id = 0
    var group = 0

    def fresh(n: Int): Array[Int] = Array.fill(n)(rnd.nextInt(Vocab.length))
    def length(mean: Int): Int = math.max(8, (mean * (0.5 + rnd.nextDouble())).round.toInt)
    def emit(tokens: Array[Int], family: String, g: Int): Unit = emitText(render(tokens), tokens.length, family, g)
    def emitText(text: String, nTok: Int, family: String, g: Int): Unit = {
      val z = rnd.nextDouble()
      val lang = Langs(pick(rnd.nextDouble()))
      out += GenDoc(f"repo${(z * z * 40).toInt}%03d", s"src/m${id % 97}/f$id.$lang",
        f"${rnd.nextLong()}%016x", lang, text, family, g, nTok)
      id += 1
    }
    def render(tokens: Array[Int]): String = {
      val sb = new StringBuilder(tokens.length * 8)
      var i = 0
      while (i < tokens.length) {
        sb.append(Vocab(tokens(i)))
        sb.append(rnd.nextInt(12) match {
          case 0 => " = "
          case 1 => "(); "
          case 2 => ";\n"
          case 3 => ", "
          case _ => " "
        })
        i += 1
      }
      sb.toString()
    }

    // boilerplate docs are placed on an even schedule, so every seed gets
    // exactly nBoiler of them (how many share a header decides whether the
    // header passes the suffix df cap); the other families are drawn with
    // weights doc-level fraction / mean group size, so each family's share
    // of DOCS matches the shape
    val nBoiler = (shape.nDocs * shape.boilerFrac).round.toInt
    val nHeaders = math.max(1, math.ceil(nBoiler.toDouble / shape.boilerPerHeader).toInt)
    val hdrLen = math.max(8, (shape.meanTokens * shape.boilerHeaderShare).round.toInt)
    val headers = Array.fill(nHeaders)(fresh(hdrLen))
    val uniqueFrac = 1.0 - shape.exactFrac - shape.nearFrac - shape.containedFrac - shape.boilerFrac
    val w = Array(uniqueFrac, shape.exactFrac / 3.5, shape.nearFrac / 3.5, shape.containedFrac / 2.0)
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    var boilers = 0

    while (id < shape.nDocs) {
      // slots past `limit` are reserved for the boilerplate still due
      val limit = shape.nDocs - (nBoiler - boilers)
      if (boilers < nBoiler && (boilers.toLong * shape.nDocs <= nBoiler.toLong * id || id >= limit)) {
        val tail = fresh(math.max(4, (hdrLen * (1.0 / shape.boilerHeaderShare - 1.0)).round.toInt))
        emit(headers(boilers % nHeaders) ++ tail, "boiler", 0)
        boilers += 1
      } else {
        val r = rnd.nextDouble()
        group += 1
        cum.indexWhere(r < _) match {
          case 1 =>
            val toks = fresh(length(shape.meanTokens))
            val text = render(toks)
            val g = 2 + rnd.nextInt(4)
            var i = 0
            while (i < g && id < limit) { emitText(text, toks.length, "exact", group); i += 1 }
          case 2 =>
            val base = fresh(length(shape.meanTokens))
            val g = 2 + rnd.nextInt(4)
            emit(base, "near", group)
            var i = 1
            while (i < g && id < limit) {
              val copy = base.clone()
              val edits = rnd.nextInt(base.length / 120 + 1)
              var e = 0
              while (e < edits) { copy(rnd.nextInt(copy.length)) = rnd.nextInt(Vocab.length); e += 1 }
              // one appended token only dents the tail shingle
              emit(if (rnd.nextBoolean()) copy :+ rnd.nextInt(Vocab.length) else copy, "near", group)
              i += 1
            }
          case 3 =>
            val unit = math.max(60, shape.meanTokens)
            val a = fresh(math.max(60, (unit * (0.6 + 0.6 * rnd.nextDouble())).toInt))
            val pre = fresh((unit * (0.3 + 0.7 * rnd.nextDouble())).toInt)
            val post = fresh((unit * (0.3 + 0.7 * rnd.nextDouble())).toInt)
            emit(a, "contained", group)
            if (id < limit) emit(pre ++ a ++ post, "contained", group)
          case _ => emit(fresh(length(shape.meanTokens)), "unique", 0)
        }
      }
    }
    out.result()
  }

  private def pick(r: Double): Int = {
    var i = 0
    while (i < LangCum.length - 1 && r >= LangCum(i)) i += 1
    i
  }

  /** Writes the corpus as `shape.files` parquet files (file i holds the
    * i-th contiguous slice, in generation order) and the label table
    * beside it. Returns the corpus directory.
    */
  def write(spark: SparkSession, docs: Vector[GenDoc], files: Int, dir: String): String = {
    val corpusDir = s"$dir/corpus"
    val rows = docs.map(d => Row(d.repo, d.path, d.commit, d.lang, d.content))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), Schema)
      .write.mode("overwrite").parquet(corpusDir)
    val labels = docs.map(d => Row(d.repo, d.path, d.commit, d.family, d.group))
    spark.createDataFrame(spark.sparkContext.parallelize(labels, 1), StructType(Seq(
      StructField("repo", StringType), StructField("path", StringType),
      StructField("commit", StringType), StructField("family", StringType),
      StructField("group", org.apache.spark.sql.types.IntegerType))))
      .write.mode("overwrite").parquet(s"$dir/labels")
    corpusDir
  }

  /** Corpus part files in slice order. */
  def partFiles(spark: SparkSession, corpusDir: String): Seq[String] = {
    val p = new Path(corpusDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).map(_.toString).toSeq
  }

  /** sha256 over the rows of the part files, in file and row order: the
    * content checksum. Equal seeds give equal row bytes in equal order. The
    * file bytes themselves also match within one JVM. Across JVMs they can
    * differ in one place: the parquet footer lists each column chunk's
    * encodings in hash-set order, which changes from JVM to JVM.
    */
  def checksum(spark: SparkSession, corpusDir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    partFiles(spark, corpusDir).foreach { f =>
      spark.read.parquet(f).collect().foreach { r =>
        (0 until r.length).foreach { i => md.update(r.getString(i).getBytes("UTF-8")); md.update(0.toByte) }
      }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Printed with every run: what the engine is being fed. */
  def properties(docs: Vector[GenDoc]): Map[String, Double] = {
    val n = docs.size.toDouble
    Map(
      "docs" -> n,
      "tokens_per_doc" -> docs.map(_.tokens.toLong).sum / n,
      "dup_mass_share" -> docs.count(_.group > 0) / n,
      "boilerplate_share" -> docs.count(_.family == "boiler") / n)
  }
}

/** Writes one workload's corpus and prints its checksum and properties —
  * the generator on its own, for the determinism test.
  *
  * usage: enginebench.GenMain <workload> <seed> <outDir>
  */
object GenMain {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, out) = args
    val shape = Main.Workloads(workload)
    val spark = SparkSession.builder().master("local[2]").appName("enginebench-gen")
      .config("spark.ui.enabled", "false").config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    try {
      val docs = CorpusGen.generate(shape, seed.toLong)
      val dir = CorpusGen.write(spark, docs, shape.files, out)
      println(s"checksum=${CorpusGen.checksum(spark, dir)}")
      println(s"files=${CorpusGen.partFiles(spark, dir).size}")
      CorpusGen.properties(docs).toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$k=$v") }
    } finally spark.stop()
  }
}

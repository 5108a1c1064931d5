package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.Dedup
import graft.plans.{GraftExtensions, MinHashSignature}

/** The native MinHash kernel against the SQL-built-in derivation it
  * replaced: one exploded row per shingle position, `substr` + `md5` +
  * hex `conv` per shingle, and a per-id `min` of each permutation. The
  * reference lives only here; `Dedup.bandedSignatures` must reproduce
  * its band keys bit for bit, with and without generated code. */
class MinHashSignatureSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-kernel `Dedup.bandedSignatures`, verbatim. */
  private def referenceSigs(df: DataFrame, shingleN: Int, numHashes: Int): DataFrame = {
    val based = df.select(col("doc_id"), TextFns.normalize(col("text")).as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(1), greatest(length(col("__t")) - (shingleN - 1), lit(1))))
          .as("__i"))
      .select(col("doc_id"),
        conv(substring(md5(col("__t").substr(col("__i"), lit(shingleN))), 1, 8), 16, 10)
          .cast("long").as("__h"))
    val mins = (0 until numHashes).map { i =>
      val (a, b) = Dedup.minhashCoeffs(i)
      min((col("__h") * a + b) % Dedup.minhashP).as(s"h$i")
    }
    based.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  private def referenceBanded(df: DataFrame, shingleN: Int, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    referenceSigs(df, shingleN, numHashes).select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          conv(substring(md5(
            concat_ws("|", (b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*)), 1, 15), 16, 10)
            .cast("long").as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))
  }

  // 1-, 2-, 3- and 4-byte UTF-8 code points, upper case and the
  // characters `normalize` rewrites
  private val alphabet: IndexedSeq[String] =
    (Seq("a", "b", "c", "x", "Q", " ", " ", ",", ";", "'", "é", "ß", "Ж", "ж",
      "中", "€", "✓", "あ") ++ Seq(0x1F600, 0x1D11E, 0x20BB7).map(cp =>
      new String(Character.toChars(cp)))).toIndexedSeq

  /** Seeded texts: empty, shorter than any tested shingle, and up to
    * 60 code points; ids repeat so the per-id min spans several texts. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(20261017L)
    val texts = Seq("", "", "a", "中", "😀", "ab", "éé") ++
      (0 until 240).map { _ =>
        val n = if (rnd.nextInt(4) == 0) rnd.nextInt(6) else rnd.nextInt(61)
        Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString
      }
    // repartitioned: a Project over a local relation would be folded
    // by the optimizer with interpreted eval, whatever the codegen mode
    texts.zipWithIndex.map { case (t, i) => (i.toLong % 200, t) }.toDF("doc_id", "text")
      .repartition(3)
  }

  private val configs = for {
    shingleN <- Seq(3, 5, 15)
    (numHashes, bands) <- Seq((12, 4), (12, 3), (6, 2), (1, 1))
  } yield (shingleN, numHashes, bands)

  private def assertMatchesReference(): Unit =
    for ((shingleN, numHashes, bands) <- configs) {
      val sigs = docs
        .select(col("doc_id"), GraftExtensions.minhashSignature(TextFns.normalize(col("text")),
          shingleN, Dedup.minhashCoeffs.take(numHashes), Dedup.minhashP).as("sig"))
        .groupBy("doc_id")
        .agg(min(col("sig")(0)).as("h0"),
          (1 until numHashes).map(i => min(col("sig")(i)).as(s"h$i")): _*)
      val ref = referenceSigs(docs, shingleN, numHashes)
      assert(rows(sigs) === rows(ref), s"signatures differ at n=$shingleN k=$numHashes")
      val banded = Dedup.bandedSignatures(docs, "doc_id", "text", shingleN, numHashes, bands)
      val expected = rows(referenceBanded(docs, shingleN, numHashes, bands))
      assert(expected.size === 200 * bands)
      assert(rows(banded) === expected, s"band keys differ at n=$shingleN k=$numHashes b=$bands")
    }

  test("bandedSignatures equals the exploded built-in derivation (whole-stage codegen)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true") { assertMatchesReference() }
  }

  test("bandedSignatures equals the exploded built-in derivation (interpreted)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { assertMatchesReference() }
  }

  test("interpreted eval and generated code agree per document") {
    val texts = docs.select("text").as[String].collect().toSeq
    val coeffs = Dedup.minhashCoeffs
    val generated = texts.zipWithIndex.toDF("text", "i").repartition(2)
      .select(col("i"), GraftExtensions.minhashSignature(col("text"), 5, coeffs, Dedup.minhashP))
      .as[(Int, Seq[Long])].collect().sortBy(_._1).map(_._2).toSeq
    val interpreted = texts.map { t =>
      MinHashSignature(Literal(t), 5, coeffs, Dedup.minhashP).eval()
        .asInstanceOf[ArrayData].toLongArray().toSeq
    }
    assert(generated === interpreted)
    assert(MinHashSignature(Literal(null, org.apache.spark.sql.types.StringType), 5, coeffs,
      Dedup.minhashP).eval() === null)
  }
}

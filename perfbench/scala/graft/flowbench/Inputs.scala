package graft.flowbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. The program only ever sees the table
  * directory written here, read through `graft.Tables`; the same seed
  * always gives the same tables. Shapes follow the sf testdata the
  * oracle suite runs on (FIXTURES.md): one parquet file per table,
  * `orders` with the TPC-H-ish columns, `documents` as 10-100 word soups
  * over a 30-word vocabulary with ~5% " dup" near-duplicates,
  * `embeddings` as unit-norm 64-dim vectors.
  */
object Inputs {
  private val Words = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Dim = 64

  /** A seeded bijection of 0 until n (Fisher-Yates). */
  def permutation(n: Int, rng: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** `orders` with `o_orderkey` a seeded bijection of 0 until n: every
    * key-modulus share (the spec fixtures' defect taxonomy, the ledger
    * and poll mixes) is the same for every seed, but lands on different
    * rows. */
  def orders(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    val rng = new SplittableRandom(seed)
    val keys = permutation(n, rng)
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val days = java.time.LocalDate.of(2001, 8, 1).toEpochDay - day0
    val rows = (0 until n).map { i =>
      val date = Timestamp.from(java.time.LocalDate.ofEpochDay(
        day0 + rng.nextLong(days + 1)).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant)
      Row(keys(i).toLong, rng.nextLong(15000L),
        "FOP".charAt(rng.nextInt(3)).toString,
        (100191L + rng.nextLong(49899127L)) / 100.0, date,
        Priorities(rng.nextInt(Priorities.length)))
    }
    write(spark, rows, StructType.fromDDL(
      "o_orderkey bigint, o_custkey bigint, o_orderstatus string, " +
        "o_totalprice double, o_orderdate timestamp, " +
        "o_orderpriority string"), s"$dir/orders.parquet")
  }

  /** `documents` and `embeddings`: `nDocs`/`nVecs` base rows, each
    * replicated `factor`× the way `graft.Soak.ensureCorpus` does (replica
    * r > 0 of a document appends " rep<r>", so every document heads a
    * near-dup family; vector replicas are identical). Ids are a seeded
    * permutation over all rows, so the eval holdout (id ≡ 0 mod 10) and
    * every daily residue batch differ per seed. */
  def corpus(spark: SparkSession, seed: Long, nDocs: Int, nVecs: Int,
      factor: Int, dir: String): Unit = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i > 0 && rng.nextInt(20) == 0) texts(rng.nextInt(i)) + " dup"
        else Array.fill(10 + rng.nextInt(91))(
          Words(rng.nextInt(Words.length))).mkString(" ")
    }
    val langs = Array.fill(nDocs)(Langs(rng.nextInt(Langs.length)))
    val docIds = permutation(nDocs * factor, rng)
    val docs = for (r <- 0 until factor; i <- 0 until nDocs) yield {
      val text = if (r == 0) texts(i) else s"${texts(i)} rep$r"
      Row(docIds(r * nDocs + i).toLong, text, langs(i), s"src${i % 20}",
        text.length.toLong)
    }
    write(spark, docs, StructType.fromDDL(
      "doc_id bigint, text string, lang string, source string, " +
        "n_chars bigint"), s"$dir/documents.parquet")

    val vecs = Array.fill(nVecs) {
      val v = Array.fill(Dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat).toSeq
    }
    val labels = Array.fill(nVecs)(rng.nextInt(10))
    val vecIds = permutation(nVecs * factor, rng)
    val embs = for (r <- 0 until factor; i <- 0 until nVecs) yield
      Row(vecIds(r * nVecs + i).toLong, vecs(i), labels(i))
    write(spark, embs, StructType.fromDDL(
      "vec_id bigint, embedding array<float>, label int"),
      s"$dir/embeddings.parquet")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.ext.{TextStats, Winnow}

/** Equivalence pins for the one-pass forms of three curation steps:
  * `Winnow.pairsFrom` and `cdcChunkStats` (one content-hash exchange
  * feeding the distinct, the frequency and the frequency join) and
  * `text_gopher_rules` (one projection instead of a doc-keyed join of
  * two). Each is compared with an inline copy of the form it replaced,
  * over an adversarial corpus, under shuffle-partition counts 1/7/200
  * with AQE on and off. */
class CurationOnePassSpec extends SparkSpec {

  // ------------------------------------------------ the replaced forms
  private def oldPairsFrom(fps0: DataFrame, minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    val fps = fps0.select("doc_id", "fh").distinct()
    val freq = fps.groupBy("fh").agg(count(lit(1)).as("nd"))
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val joinable = fps.join(freq.hint("shuffle_hash"), "fh")
      .filter(col("nd") >= 2 && col("nd") <= maxDf)
      .select("doc_id", "fh")
    joinable.as("a")
      .join(joinable.as("b").hint("shuffle_hash"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b"))
        .hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  private def oldCdcChunkStats(docs: DataFrame): DataFrame = {
    val perDh = CurationQueries.cdcChunks(docs).groupBy("doc_id", "h")
      .agg(count(lit(1)).as("cnt"), max("clen").as("mx"))
    val freq = perDh.groupBy("h").agg(count(lit(1)).as("nd"))
    perDh.join(freq.hint("shuffle_hash"), "h")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_chunks"), max("mx").as("max_len"),
        sum(when(col("nd") >= 2, col("cnt")).otherwise(0L)).as("n_shared"))
      .orderBy("doc_id")
  }

  private def oldGopherRules(docs: DataFrame): DataFrame = {
    val scal = docs.select(col("doc_id"),
      regexp_count(col("text"), lit("#")).as("n_hash"),
      regexp_count(col("text"), lit("\\.\\.\\.")).as("n_ell"),
      (regexp_count(col("text"), lit("\n")) + 1).as("n_lines"),
      regexp_count(col("text"), lit("(^|\n)[ \t]*[-*•]")).as("n_bullet"),
      regexp_count(col("text"), lit("\\.\\.\\.[ \t]*(\n|\\z)")).as("n_ellend"))
    TextStats.gopherTokenStats(docs).join(scal, "doc_id")
      .select(col("doc_id"), col("n_words"),
        when(col("n_words").between(50, 100000), 1).otherwise(0).as("r_wordcount"),
        when(col("sum_len") >= col("n_words") * 3 &&
          col("sum_len") <= col("n_words") * 10, 1).otherwise(0).as("r_meanlen"),
        when((col("n_hash") + col("n_ell")) * 10 <= col("n_words"), 1)
          .otherwise(0).as("r_symbol"),
        when(col("n_bullet") * 10 <= col("n_lines") * 9, 1).otherwise(0).as("r_bullet"),
        when(col("n_ellend") * 10 <= col("n_lines") * 3, 1).otherwise(0).as("r_ellipsis"),
        when(col("n_alpha") * 5 >= col("n_words") * 4, 1).otherwise(0).as("r_alpha"),
        when(col("n_stop") >= 2, 1).otherwise(0).as("r_stop"))
      .withColumn("gopher_pass",
        col("r_wordcount") * col("r_meanlen") * col("r_symbol") *
          col("r_bullet") * col("r_ellipsis") * col("r_alpha") * col("r_stop"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------- the corpus
  private def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")

  /** The sf0.001 documents plus the edges: empty, whitespace-only and
    * null text; docs shorter than k+w−1 = 8 tokens; a chunk and a run
    * repeated inside one doc; a text in 50 docs and one null-doc row
    * (51 > maxDf with the null doc, 50 ≤ maxDf without it); a passage in
    * 55 docs; two null-doc rows. */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val hubA = words("alpha", 30)
    val hubB = words("beta", 30)
    val edges: Seq[(java.lang.Long, String)] = Seq[(java.lang.Long, String)](
      (9100001L, ""),
      (9100002L, "  \n\t  "),
      (9100003L, null),
      (9100004L, "a b c d e f g"),
      (9100005L, "one two three four five six seven eight"),
      (9100006L, ("the same chunk again. " * 8).trim),
      (9100007L, (words("rep", 10) + " ") * 3 + "tail end"),
      (null, hubA),
      (null, words("nullb", 20))
    ) ++ (1 to 50).map(i => (Long.box(9200000L + i), hubA)) ++
      (1 to 55).map(i => (Long.box(9300000L + i), s"$hubB ${words(s"b${i}x", 10)}"))
    val base = Registry.table(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    base.unionByName(edges.toDF("doc_id", "text"))
  }

  private lazy val corpusDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_onepass").toString
    corpus.coalesce(2).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** A standing fingerprint index as a crashed-after-append replay and a
    * hand-fed table leave it: some rows twice, rows with a null hash
    * (they count in |fp|) and rows with a null doc (they count in nd). */
  private lazy val messyIndex: DataFrame = {
    import spark.implicits._
    val fps = Winnow.fingerprints(corpus).select("doc_id", "fh").distinct().localCheckpoint()
    val someFh = fps.filter(col("doc_id").isNotNull).select("fh").limit(3)
    val extra = Seq[(java.lang.Long, String)]((9200001L, null), (9200002L, null),
      (9200002L, null)).toDF("doc_id", "fh")
    fps.unionByName(fps.filter(col("doc_id") % 3 === 0))
      .unionByName(extra)
      .unionByName(someFh.select(lit(null).cast("long").as("doc_id"), col("fh")))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def underEveryLayout(body: String => Unit): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try for (aqe <- Seq("true", "false"); parts <- Seq("1", "7", "200")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      body(s"shuffle.partitions=$parts, AQE=$aqe")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, corpusDir)
  private def documents: DataFrame = Registry.table(spark, corpusDir, "documents")

  test("the corpus exercises the edges it names") {
    val pairs = rows(oldPairsFrom(Winnow.fingerprints(documents)))
    assert(pairs.nonEmpty)
    // the 50-doc text is excluded only because its null-doc row makes it 51
    val hubA = (9200001L to 9200050L).toSet
    assert(!pairs.exists(r => hubA(r.getLong(0)) && hubA(r.getLong(1))))
    val withoutNullDoc = rows(oldPairsFrom(
      Winnow.fingerprints(documents.filter(col("doc_id").isNotNull))))
    assert(withoutNullDoc.exists(r => hubA(r.getLong(0)) && hubA(r.getLong(1))))
    assert(rows(oldCdcChunkStats(documents)).exists(r => r.isNullAt(0)))
  }

  test("dedup_winnow_pairs and dedup_winnow_indexed ≡ the two-pass pairsFrom under any layout") {
    underEveryLayout { at =>
      val want = rows(oldPairsFrom(Winnow.fingerprints(documents)))
      assert(rows(query("dedup_winnow_pairs")) == want, s"inline, $at")
      assert(rows(query("dedup_winnow_indexed")) == want, s"indexed, $at")
    }
  }

  test("pairsFrom ≡ the two-pass form on a replay-duplicated index with null hashes and null docs") {
    underEveryLayout { at =>
      val want = rows(oldPairsFrom(messyIndex))
      assert(want.nonEmpty)
      assert(rows(Winnow.pairsFrom(messyIndex)) == want, at)
      assert(rows(Winnow.pairsFrom(messyIndex, minShared = 1, maxDf = 3)) ==
        rows(oldPairsFrom(messyIndex, minShared = 1, maxDf = 3)), s"minShared 1, maxDf 3, $at")
    }
  }

  test("text_cdc_chunks ≡ the two-pass cdcChunkStats under any layout") {
    underEveryLayout { at =>
      assert(rows(query("text_cdc_chunks")) == rows(oldCdcChunkStats(documents)), at)
    }
  }

  test("text_gopher_rules ≡ the joined two-projection form under any layout") {
    underEveryLayout { at =>
      assert(rows(query("text_gopher_rules")) == rows(oldGopherRules(documents)), at)
    }
  }
}

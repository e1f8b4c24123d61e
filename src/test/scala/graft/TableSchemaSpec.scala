package graft

import java.nio.file.{Files, Path, Paths}
import graft.index.{PackedIndex, PackedPostings, PosPostings, PositionalArm, PositionalIndex}
import graft.io.{MetaIO, TableIO}
import graft.query.{IndexCache, Phrase, Wand}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The serving reads pass schema constants instead of inferring the schema
  * from the files; these checks keep the constants equal to what the
  * writers write, and the one-relation read equal to a per-group union of
  * inferred reads.
  */
class TableSchemaSpec extends SparkSpec {
  import spark.implicits._

  // names, types and order; a parquet read reports every column nullable
  private def shape(s: StructType): String = s.catalogString

  private def inferred(location: String): StructType = spark.read.parquet(location).schema

  test("reader schema constants == the inferred schema of every table the writers wrote") {
    val dir = scratchDir("schema")
    MultiGroupIndex.build(spark, dir)
    MultiGroupIndex.append(spark, dir, 200)
    PackedIndex.delete(dir, Seq(3L, 150L, 205L))
    val out = scratchDir("schema-cpt")
    PackedIndex.compact(spark, dir, out)
    for (d <- Seq(dir, out)) {
      val groups = MetaIO.list(s"$d/postings").filter(_.startsWith("grp="))
      val segments = PackedIndex.snapshot(d).positional.get.segments
      assert(groups.nonEmpty && segments.nonEmpty)
      groups.foreach(g => assert(shape(inferred(s"$d/postings/$g")) ==
        shape(PackedIndex.PostingsSchema), s"$d/postings/$g"))
      segments.foreach(s => assert(shape(inferred(s"$d/$s")) ==
        shape(PositionalIndex.PostingsSchema), s"$d/$s"))
      val dfDirs = MetaIO.list(d).filter(_.startsWith("df"))
      assert(dfDirs.isEmpty, s"$d holds df tables: $dfDirs")
      assert(shape(PackedIndex.snapshot(d).df(spark).schema) == shape(PackedIndex.DfSchema), d)
    }
  }

  /** Rows in a canonical order, byte arrays as values: bitwise equality. */
  private def canon(ds: Dataset[PackedPostings]): Seq[Any] =
    ds.collect().toSeq.map(p => (p.shard, p.term, p.nPostings, p.blocks.toSeq.map(b =>
      (b.base, b.maxDoc, b.count, b.maxTf, b.minDl, b.docs.toSeq, b.tfs.toSeq, b.dls.toSeq))))
      .sortBy(_.toString)

  private def canonPos(ds: Dataset[PosPostings]): Seq[Any] =
    ds.collect().toSeq.map(p => (p.shard, p.term, p.nPostings, p.blocks.toSeq.map(b =>
      (b.base, b.maxDoc, b.count, b.docs.toSeq, b.cnts.toSeq, b.poss.toSeq))))
      .sortBy(_.toString)

  /** The per-group read the one-relation read replaced: one inferred
    * parquet read per location, unioned by name.
    */
  private def unionRead(locations: Seq[String]): DataFrame =
    locations.map(l => spark.read.parquet(l)
      .selectExpr("shard", "term", "nPostings", "blocks"))
      .reduce(_ unionByName _)

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.toList.foreach { (p: Path) =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }

  test("one-relation reads == the per-group union read: rows and answers, plain path and file:// URI") {
    val dir = scratchDir("union")
    MultiGroupIndex.build(spark, dir)
    MultiGroupIndex.append(spark, dir, 200)
    MultiGroupIndex.append(spark, dir, 220)
    val groups = MetaIO.list(s"$dir/postings").filter(_.startsWith("grp=")).sorted
    val segments = PackedIndex.snapshot(dir).positional.get.segments
    assert(groups.size == 6 && segments.size == 3)

    // the reference index holds the union read's rows as its only
    // non-empty postings group and its only positional segment
    val ref = scratchDir("union-ref")
    MetaIO.deleteRecursively(ref)
    copyTree(dir, ref)
    val postingsUnion = unionRead(groups.map(g => s"$dir/postings/$g")).as[PackedPostings]
    assert(canon(PackedIndex.snapshot(dir).postings(spark)) == canon(postingsUnion))
    TableIO.write(postingsUnion.toDF(), s"$ref/postings/${groups.head}")
    groups.tail.foreach(g =>
      TableIO.write(spark.emptyDataset[PackedPostings].toDF(), s"$ref/postings/$g"))
    val positionsUnion = unionRead(segments.map(s => s"$dir/$s")).as[PosPostings]
    assert(canonPos(PositionalIndex.load(spark, dir)) == canonPos(positionsUnion))
    TableIO.write(positionsUnion.toDF(), s"$ref/positions")
    val refSnap = PackedIndex.snapshot(ref)
    PackedIndex.commit(refSnap.copy(
      positional = Some(PositionalArm(Seq("positions"), refSnap.groups.toSet))))

    def answers(d: String): Seq[Seq[Seq[Any]]] = {
      IndexCache.invalidateAll()
      Seq(Wand.search(spark, d, MultiGroupIndex.Queries, 10),
        Phrase.topKPositional(spark, d, MultiGroupIndex.PhraseTerms, 10))
        .map(_.collect().map(_.toSeq).toSeq.sortBy(_.mkString(",")))
    }
    val want = answers(ref)
    assert(want.forall(_.nonEmpty), "empty fixture result")
    assert(answers(dir) == want, "plain path diverged from the union read")
    assert(answers(s"file://$dir") == want, "file:// URI diverged from the union read")
  }
}

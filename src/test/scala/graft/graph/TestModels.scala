package graft.graph

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The spec session: the production configuration on 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = graft.GraftSession(4)

  /** `f` with the SQL setting `key` at `value`. */
  def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try f finally spark.conf.set(key, prev)
  }

  /** `f` with `spark.sql.shuffle.partitions` at `n`: the partition count
    * a table materializes with after a change.
    */
  def withShufflePartitions[A](n: Int)(f: => A): A =
    withConf("spark.sql.shuffle.partitions", n.toString)(f)
}

/** The music-catalogue model of the reference's internal tests
  * (/root/reference/executables/InternalTests/GraphTests.hs:22-49),
  * re-expressed as a sealed Scala ADT — no Template Haskell needed.
  */
sealed trait Cat
case object CatRoot extends Cat
final case class Artist(uid: Int, name: String) extends Cat
final case class Genre(name: String) extends Cat
final case class Song(name: String) extends Cat

/** Hand-written codec kept as the derivation cross-check fixture: the
  * analog of the reference's MacrosTests.hs/THTests.hs, which assert the
  * TH-generated Setup instance behaves like the explicit one. DeriveSpec
  * proves [[CatalogueModel]] (derived) == this on every member.
  */
object CatalogueModelHand extends GraphModel[Cat] {
  val valueSchema: StructType = StructType(Seq(
    StructField("uid", IntegerType, nullable = true),
    StructField("name", StringType, nullable = true)))

  def kindOf(v: Cat): String = v match {
    case CatRoot => "Catalogue"
    case _: Artist => "Artist"
    case _: Genre => "Genre"
    case _: Song => "Song"
  }

  def toValueRow(v: Cat): Row = v match {
    case CatRoot => Row(null, null)
    case Artist(uid, n) => Row(uid, n)
    case Genre(n) => Row(null, n)
    case Song(n) => Row(null, n)
  }

  def fromValueRow(kind: String, row: Row): Cat = kind match {
    case "Catalogue" => CatRoot
    case "Artist" => Artist(row.getInt(0), row.getString(1))
    case "Genre" => Genre(row.getString(1))
    case "Song" => Song(row.getString(1))
  }

  /** Mirrors GraphTests.hs:37-43 exactly. */
  def indexes(target: Cat, source: Cat): Seq[IndexKey] = (target, source) match {
    case (Artist(uid, n), CatRoot) =>
      Seq(IndexKey("Catalogue_Artist_Name", n), IndexKey("Catalogue_Artist_UID", uid.toString))
    case (Artist(_, _), Song(_)) => Seq(IndexKey("Song_Artist"))
    case (Genre(n), CatRoot) => Seq(IndexKey("Catalogue_Genre_Name", n))
    case (Song(n), CatRoot) => Seq(IndexKey("Catalogue_Song_Name", n))
    case (Song(_), Genre(_)) => Seq(IndexKey("Genre_Song"))
    case _ => Seq.empty
  }
}

/** The Demo model (/root/reference/executables/Demo.hs:10-45) with its
  * word-split search-term index emission (Demo.hs:24-28).
  */
sealed trait DemoV
case object DemoRoot extends DemoV
final case class DArtist(name: String) extends DemoV
final case class DGenre(name: String) extends DemoV

/** Hand-written Demo codec — derivation cross-check fixture (see
  * [[CatalogueModelHand]]). */
object DemoModelHand extends GraphModel[DemoV] {
  val valueSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = true)))

  def kindOf(v: DemoV): String = v match {
    case DemoRoot => "Catalogue"
    case _: DArtist => "Artist"
    case _: DGenre => "Genre"
  }

  def toValueRow(v: DemoV): Row = v match {
    case DemoRoot => Row(null)
    case DArtist(n) => Row(n)
    case DGenre(n) => Row(n)
  }

  def fromValueRow(kind: String, row: Row): DemoV = kind match {
    case "Catalogue" => DemoRoot
    case "Artist" => DArtist(row.getString(0))
    case "Genre" => DGenre(row.getString(0))
  }

  def indexes(target: DemoV, source: DemoV): Seq[IndexKey] = (target, source) match {
    case (DArtist(n), DemoRoot) =>
      IndexKey("Catalogue_Artist") +:
        n.split("\\s+").filter(_.nonEmpty).toSeq
          .map(w => IndexKey("Catalogue_Artist_SearchTerm", w))
    case (DGenre(n), DemoRoot) =>
      Seq(IndexKey("Catalogue_Genre"), IndexKey("Catalogue_Genre_Name", n))
    case (DArtist(_), DGenre(_)) => Seq(IndexKey("Genre_Artist"))
    case _ => Seq.empty
  }
}

/** The PRIMARY catalogue model: runtime-derived from the sealed `Cat` ADT
  * via [[GraphModel.derive]] — the `deriveSetup` analog
  * (/root/reference/library/GraphDB/Macros.hs:15-32). Every graph spec
  * runs on this; DeriveSpec proves it equals [[CatalogueModelHand]].
  * The index emission mirrors GraphTests.hs:37-43 (user logic the
  * reference macro also leaves user-supplied).
  */
object CatalogueModel extends GraphModel[Cat] {
  // index dispatch assembled from per-edge declarations — each mirrors
  // one `instance Edge ... where indexes` of GraphTests.hs:31-43
  private val d: GraphModel[Cat] = GraphModel.derive[Cat](
    indexesFn = GraphModel.indexesFromEdges[Cat](Seq(
      GraphModel.edge[Artist, CatRoot.type](a => Seq(
        IndexKey("Catalogue_Artist_Name", a.name),
        IndexKey("Catalogue_Artist_UID", a.uid.toString))),
      GraphModel.edge[Artist, Song](_ => Seq(IndexKey("Song_Artist"))),
      GraphModel.edge[Genre, CatRoot.type](g =>
        Seq(IndexKey("Catalogue_Genre_Name", g.name))),
      GraphModel.edge[Song, CatRoot.type](sn =>
        Seq(IndexKey("Catalogue_Song_Name", sn.name))),
      GraphModel.edge[Song, Genre](_ => Seq(IndexKey("Genre_Song"))))),
    kindNames = Map("CatRoot" -> "Catalogue"))
  val valueSchema: StructType = d.valueSchema
  def kindOf(v: Cat): String = d.kindOf(v)
  def toValueRow(v: Cat): Row = d.toValueRow(v)
  def fromValueRow(kind: String, row: Row): Cat = d.fromValueRow(kind, row)
  def indexes(target: Cat, source: Cat): Seq[IndexKey] = d.indexes(target, source)
}

/** Derived Demo model (Demo.hs:10-45); DeriveSpec proves it equals
  * [[DemoModelHand]]. */
object DemoModel extends GraphModel[DemoV] {
  // per-edge declarations mirroring Demo.hs:24-44's Edge instances,
  // incl. the word-split search-term emission (Demo.hs:24-28)
  private val d: GraphModel[DemoV] = GraphModel.derive[DemoV](
    indexesFn = GraphModel.indexesFromEdges[DemoV](Seq(
      GraphModel.edge[DArtist, DemoRoot.type](a =>
        IndexKey("Catalogue_Artist") +:
          a.name.split("\\s+").filter(_.nonEmpty).toSeq
            .map(w => IndexKey("Catalogue_Artist_SearchTerm", w))),
      GraphModel.edge[DGenre, DemoRoot.type](g =>
        Seq(IndexKey("Catalogue_Genre"), IndexKey("Catalogue_Genre_Name", g.name))),
      GraphModel.edge[DArtist, DGenre](_ => Seq(IndexKey("Genre_Artist"))))),
    kindNames = Map("DemoRoot" -> "Catalogue", "DArtist" -> "Artist",
      "DGenre" -> "Genre"))
  val valueSchema: StructType = d.valueSchema
  def kindOf(v: DemoV): String = d.kindOf(v)
  def toValueRow(v: DemoV): Row = d.toValueRow(v)
  def fromValueRow(kind: String, row: Row): DemoV = d.fromValueRow(kind, row)
  def indexes(target: DemoV, source: DemoV): Seq[IndexKey] = d.indexes(target, source)
}

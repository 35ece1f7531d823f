package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, View}
import org.apache.spark.sql.types.StructType

/** SQL VIEW persistence for [[GraftCatalog]] — one JSON document per
  * view under `<warehouse>/<namespace>/__views/<name>.json` (the
  * `__views` directory can never collide with a table: catalog
  * identifiers with a leading underscore are rejected at the path
  * guard, so no table dir is ever named `__views`).
  *
  * Semantics (documented, the late-binding model): a view stores its
  * ORIGINAL SQL text plus the (catalog, namespace) context captured at
  * CREATE; resolution re-parses the text at query time, qualifying
  * context-relative table references with the stored context, so the
  * view tracks schema evolution of the underlying tables (Spark's
  * SCHEMA EVOLUTION view mode). The schema recorded here is the
  * analyzed schema AT CREATE — served to DESCRIBE; the live query's
  * schema may differ after evolution. Time travel: a pinned read of an
  * underlying table inside the view text (`VERSION AS OF`) stays
  * pinned; the view itself always resolves against the current
  * catalog state. */
object GraftViews {

  val Dir = "__views"

  final case class Stored(sql: String, currentCatalog: String,
                          currentNamespace: Seq[String], schemaDdl: String,
                          queryColumnNames: Seq[String],
                          columnAliases: Seq[String],
                          columnComments: Seq[String],
                          properties: Map[String, String])

  // ---- filesystem (documents are encoded by [[TxJson]]: a fixed key
  // order, `": "`/`", "` spacing and sorted props keep them byte-stable)

  def path(nsDir: Path, name: String): Path =
    new Path(new Path(nsDir, Dir), s"$name.json")

  def write(s: SparkSession, nsDir: Path, name: String, v: Stored,
            replace: Boolean): Boolean = {
    val p = path(nsDir, name)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    f.mkdirs(p.getParent)
    if (replace) f.delete(p, false)
    try {
      val out = f.create(p, false)
      try out.write(TxJson.encodeView(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch { case _: java.io.IOException if !replace => false }
  }

  def read(s: SparkSession, nsDir: Path, name: String): Option[Stored] = {
    val p = path(nsDir, name)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val b = try in.readAllBytes() finally in.close()
      Some(TxJson.decodeView(new String(b, java.nio.charset.StandardCharsets.UTF_8)))
    }
  }

  def delete(s: SparkSession, nsDir: Path, name: String): Boolean = {
    val p = path(nsDir, name)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    f.delete(p, false)
  }

  def list(s: SparkSession, nsDir: Path): Seq[String] = {
    val d = new Path(nsDir, Dir)
    val f = d.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json"))
      .sorted
  }
}

/** The connector-facing [[View]] instance [[GraftCatalog.loadView]]
  * serves. */
final case class GraftView(ident: Identifier, stored: GraftViews.Stored)
    extends View {
  override def name(): String = ident.toString
  override def query(): String = stored.sql
  override def currentCatalog(): String = stored.currentCatalog
  override def currentNamespace(): Array[String] =
    stored.currentNamespace.toArray
  override lazy val schema: StructType = StructType.fromDDL(stored.schemaDdl)
  override def queryColumnNames(): Array[String] =
    stored.queryColumnNames.toArray
  override def columnAliases(): Array[String] = stored.columnAliases.toArray
  override def columnComments(): Array[String] = stored.columnComments.toArray
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    stored.properties.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

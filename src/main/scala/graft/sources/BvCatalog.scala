package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 catalog plugin exposing BVGraph basenames as SQL tables:
  *
  * {{{
  * spark.conf "spark.sql.catalog.graft" -> "graft.sources.BvCatalog"
  * spark.sql("SELECT sum(outdegree) FROM graft.`/data/graphs/uk2002`")
  * }}}
  *
  * The identifier IS the basename path (namespace segments + name join
  * with '/'), so any graph on shared storage is queryable in pure SQL
  * with zero registration ceremony — the catalog analogue of the
  * reference's "open by basename" API (HdfsBVGraph.load,
  * /root/reference/.../patched/HdfsBVGraph.java:317-323). Reads resolve
  * through [[BvGraphTable]], so every scan feature (pruned columns,
  * pushed id ranges, pushed aggregates, runtime filtering, byte-balanced
  * splits) works identically from SQL. Writes go through the same table
  * (`INSERT OVERWRITE` → the distributed sharded sink).
  *
  * Table existence = the `.properties` sidecar (unsharded) or `.shards`
  * manifest (sharded) being present — the same probe order the scan uses.
  *
  * Because the identifier is a raw path, an unrestricted catalog pointed
  * at production storage would let any SQL user probe/read arbitrary
  * paths the Spark process can reach. The `allowlist` catalog option
  * (comma-separated path prefixes) fences it:
  *
  * {{{
  * spark.conf "spark.sql.catalog.graft.allowlist" -> "/data/graphs,/warehouse/bv"
  * }}}
  *
  * With it set, identifiers outside every prefix don't resolve (loadTable
  * throws with the configured prefixes; tableExists is false) — the
  * filesystem is never probed for fenced-off paths.
  */
class BvCatalog extends TableCatalog {
  private var catalogName: String = _
  private var allowlist: Seq[String] = Nil

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    allowlist = Option(options.get("allowlist")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  }

  override def name(): String = catalogName

  private def basenameOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  /** A basename is allowed iff no allowlist is configured (open catalog,
    * the test/exploration default) or it falls under one of the prefixes.
    * Prefix match is segment-safe: "/data/graphs" allows
    * "/data/graphs/uk2002" but NOT "/data/graphs-private/x". */
  private def allowed(basename: String): Boolean =
    allowlist.isEmpty || allowlist.exists(p =>
      basename == p || basename.startsWith(p.stripSuffix("/") + "/"))

  private def exists(basename: String): Boolean = {
    def isFile(suffix: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(basename + suffix)
      try HadoopConf.fs(p).exists(p) catch { case _: Exception => false }
    }
    isFile(".shards") || isFile(".properties")
  }

  override def loadTable(ident: Identifier): Table = {
    val basename = basenameOf(ident)
    if (!allowed(basename))
      throw new IllegalArgumentException(
        s"bvgraph catalog '$catalogName': path '$basename' is outside the " +
          s"configured allowlist (${allowlist.mkString(", ")}); set " +
          s"spark.sql.catalog.$catalogName.allowlist to permit it")
    if (!exists(basename))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new BvGraphTable(basename, None)
  }

  override def tableExists(ident: Identifier): Boolean = {
    val basename = basenameOf(ident)
    allowed(basename) && exists(basename)
  }

  /** CREATE TABLE registers nothing durable — a graph "exists" iff its
    * files do. Creation happens by WRITING (the DSv2 sink); a bare DDL
    * create has no files to point at. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "bvgraph tables are created by writing: df.write.format(\"bvgraph\")" +
        ".option(\"basename\", ...) or INSERT OVERWRITE")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("bvgraph tables are immutable")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "refusing to delete graph files through DROP TABLE; remove the " +
        ".graph/.offsets/.properties (or shard dir) explicitly")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("bvgraph tables are immutable")

  /** Graphs are files, not catalog entries — there is no namespace
    * enumeration (listing a filesystem tree as tables would be a
    * full-storage walk at 100 TB). Point queries only. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty
}

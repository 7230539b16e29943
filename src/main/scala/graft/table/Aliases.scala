package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Index aliases — the OpenSearch `_aliases` API: a mutable name that
  * resolves to one or more immutable index directories, swapped
  * ATOMICALLY so readers never observe a half-updated target list. This
  * is the zero-downtime half of the reindex story: build the new-sharded
  * / newly-positional index with [[graft.index.IndexBuilder.reindex]],
  * verify it, then [[Aliases.set]] the serving alias at the new dir —
  * in-flight queries finish against the old index, new queries see the
  * new one, and nothing is ever deleted out from under a reader (index
  * dirs are immutable append-only snapshot trees; GC is
  * [[SnapshotCatalog.expireSnapshots]]'s job, driven separately).
  *
  * Durability discipline is [[SnapshotCatalog.commit]]'s: one JSON file
  * per alias under `<root>/aliases/`, updated by write-to-temp + atomic
  * rename-with-OVERWRITE (FileContext where the filesystem supports it,
  * delete+rename fallback where it doesn't). A crash mid-set leaves
  * either the old file or the new one — never a torn read — and stray
  * `.tmp-*` residue is ignored by readers.
  *
  * A multi-target alias is the OpenSearch multi-index read alias (the
  * time-sliced pattern); [[graft.search.Wand.searchAlias]] routes it
  * through [[graft.search.Wand.searchIndexes]]. Write routing is out of
  * scope by design — like OpenSearch, writes go to a concrete index. */
object Aliases {
  private val mapper = new ObjectMapper()

  private def aliasesDir(root: String) = s"$root/aliases"
  private def aliasPath(root: String, alias: String) =
    new Path(s"${aliasesDir(root)}/$alias.json")

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeString(f: FileSystem, p: Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def validName(alias: String): Boolean =
    alias.nonEmpty && !alias.startsWith(".") &&
      alias.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.')

  /** Create or atomically repoint `alias` at `targets`. Every target must
    * hold a committed snapshot — an alias can never dangle at creation
    * time (the OpenSearch rule: you can't alias a missing index). */
  def set(spark: SparkSession, root: String, alias: String,
          targets: Seq[String]): Unit = {
    require(validName(alias),
      s"bad alias name '$alias': [A-Za-z0-9._-], non-empty, no leading dot")
    require(targets.nonEmpty, "alias needs at least one target index dir")
    require(targets.distinct.size == targets.size,
      s"duplicate alias targets: $targets")
    targets.foreach { d =>
      require(SnapshotCatalog.load(spark, d).isDefined,
        s"alias target is not a committed index: $d")
    }
    val f = fs(spark, root)
    f.mkdirs(new Path(aliasesDir(root)))
    val o = mapper.createObjectNode()
    val ts = o.putArray("targets"); targets.foreach(ts.add)
    o.put("updatedMs", System.currentTimeMillis())
    val tmp = new Path(s"${aliasPath(root, alias)}.tmp-${java.util.UUID.randomUUID()}")
    writeString(f, tmp, o.toPrettyString)
    val cur = aliasPath(root, alias)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        cur.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (f.exists(cur)) f.delete(cur, false)
        if (!f.rename(tmp, cur))
          throw new java.io.IOException(s"atomic alias flip failed for '$alias'")
    }
  }

  /** The alias's current target dirs, or None if it doesn't exist. */
  def resolve(spark: SparkSession, root: String, alias: String): Option[Seq[String]] = {
    val f = fs(spark, root)
    val p = aliasPath(root, alias)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(mapper.readTree(s).get("targets").elements().asScala
        .map(_.asText()).toSeq)
    }
  }

  /** Remove the alias (the index dirs are untouched). False if absent. */
  def remove(spark: SparkSession, root: String, alias: String): Boolean = {
    val f = fs(spark, root)
    val p = aliasPath(root, alias)
    f.exists(p) && f.delete(p, false)
  }

  /** All aliases under `root` as (alias, target) rows — the `_cat/aliases`
    * analog; multi-target aliases emit one row per target. Metadata scale
    * by construction (one tiny JSON per alias). Stray `.tmp-*` residue
    * from a crashed set() is invisible (only `*.json` names parse). */
  def list(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val d = new Path(aliasesDir(root))
    val rows: Seq[(String, String)] =
      if (!f.exists(d)) Nil
      else f.listStatus(d).map(_.getPath.getName).toSeq
        .collect { case n if n.endsWith(".json") => n.dropRight(5) }
        .flatMap { a =>
          resolve(spark, root, a).getOrElse(Nil).map(t => (a, t))
        }
    rows.toDF("alias", "target")
  }
}

package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.StructType

/** Parquet export/import of the whole database — the reference's snapshot/
  * restore path (`store/store.go:263` `EXPORT DATABASE ... (FORMAT PARQUET)`,
  * `store/store.go:314` `IMPORT DATABASE`). One parquet directory per table
  * plus a manifest of names + constraint metadata.
  */
object Snapshot {
  // one line per table: name|pk,cols|notnull,cols|b64check;b64check
  // (CHECK expressions are base64-encoded — raw SQL text may contain the
  // field and list separators, e.g. `||` concat)
  private val ManifestName = "manifest.txt"

  /** A consistent database cut: per-table data handles pinned to the
    * version dirs live at capture time, plus the manifest text captured at
    * the same instant. Capture is metadata-speed (version-dir file lists +
    * map copies) so the caller can hold its write/log lock only across
    * [[captureCut]] and run [[exportCut]] with writers flowing — the async
    * shape of the reference's Raft snapshot persist (hashicorp
    * FileSnapshotStore, `store/store.go:101`). Release [[pins]] via
    * `gw.releasePins` when done (exported or failed). */
  final case class Cut private[engine] (
      tables: Seq[String],
      parts: Seq[(String, Part)],
      manifestLines: Seq[String],
      pins: Seq[String])

  /** One table of a cut: the pinned data files of a versioned table with
    * its catalog schema, read at export; or, for a managed passthrough
    * table, which has no version dir to pin, an eager copy. */
  sealed trait Part
  final case class Pinned private[engine] (schema: StructType,
      files: Seq[org.apache.hadoop.fs.FileStatus]) extends Part
  final case class Copied private[engine] (df: DataFrame) extends Part

  def captureCut(gw: SqlGateway): Cut = {
    val spark = gw.spark
    // gateway tables are LOCATION-backed (EXTERNAL, versioned dirs);
    // passthrough-created ones are MANAGED — snapshot both, skip views
    val tables = ColumnShim.userTables(spark)
    val pins = Seq.newBuilder[String]
    val parts = tables.map { t =>
      gw.pinTableCut(t) match {
        case Some((dir, files)) =>
          pins += dir
          t -> Pinned(spark.table(t).schema, files)
        case None =>
          // the in-place overwrite path of a managed table forces an
          // eager copy at capture time
          t -> Copied(spark.table(t).localCheckpoint(eager = true))
      }
    }
    Cut(tables, parts, manifestLines(gw, tables), pins.result())
  }

  private def manifestLines(gw: SqlGateway, tables: Seq[String]): Seq[String] = {
    val manifest = tables.map { t =>
      val (pk, nn) = gw.constraints.getOrElse(t.toLowerCase, (Nil, Nil))
      val ck = gw.checks.getOrElse(t.toLowerCase, Nil).map(e =>
        java.util.Base64.getEncoder.encodeToString(e.getBytes("UTF-8")))
      s"$t|${pk.mkString(",")}|${nn.mkString(",")}|${ck.mkString(";")}"
    }
    // database-level metadata (DuckDB's EXPORT DATABASE writes sequences
    // and macros into schema.sql): `#`-prefixed lines, bodies base64'd
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val meta =
      gw.sequences.toSeq.sortBy(_._1).map { case (n, st) =>
        // trailing field: declared START (duckdb_sequences reporting) —
        // absent in older manifests, import falls back to the sign default
        val start = gw.seqStarts.get(n).map(s => s"|$s").getOrElse("")
        s"#seq2|$n|${st.next}|${st.inc}|${st.min}|${st.max}|${st.cycle}$start" } ++
      gw.macros.toSeq.sortBy(_._1).map { case (n, (params, body)) =>
        // trailing field: `p:=b64(default)` entries for default params
        // (r13; absent in older manifests — import treats all-positional)
        val dflts = gw.macroDefaults.getOrElse(n, Map.empty)
        val dfltField =
          if (dflts.isEmpty) ""
          else "|" + dflts.toSeq.sortBy(_._1)
            .map { case (p, d) => s"$p:=${b64(d)}" }.mkString(",")
        s"#macro|$n|${params.mkString(",")}|${b64(body)}$dfltField" } ++
      gw.indexes.toSeq.sortBy(_._1).map { case (n, (t, cols, uniq)) =>
        s"#index|$n|$t|${cols.mkString(",")}|$uniq" } ++
      gw.namedTypes.toSeq.sortBy(_._1).map { case (n, spec) =>
        s"#type|$n|${b64(spec)}" } ++
      gw.comments.toSeq.sortBy(_._1).map { case (k, v) =>
        s"#comment|${b64(k)}|${b64(v)}" } ++
      gw.columnDefaults.toSeq.sortBy(_._1).flatMap { case (t, m) =>
        m.toSeq.sortBy(_._1).map { case (c, d) => s"#default|$t|$c|${b64(d)}" } } ++
      // registration order preserved — a view may reference earlier views.
      // Structured (not DDL-replay) so import can register WITHOUT binding:
      // a live state may legally hold a broken or self-referencing view,
      // whose CREATE VIEW replay would abort restore mid-import.
      gw.viewEntries.map { case (name, aliases, body) =>
        // each alias b64'd individually (b64 text never contains ','): a
        // double-quoted alias may itself contain commas/parens, which the
        // old joined-then-split #view2 format silently split into two
        val as = aliases.map(_.map(b64).mkString(",")).getOrElse("")
        s"#view3|${b64(name)}|$as|${b64(body)}"
      }
    manifest ++ meta
  }

  /** Write `gw`'s already-captured [[Cut]] to `dir`, one parquet dir per
    * table. Safe to run with writers active — a pinned table's file list
    * is immutable while its pin holds. A small pinned table is copied on
    * the driver, with no Spark job (`SqlGateway.copyFiles`). */
  def exportCut(gw: SqlGateway, cut: Cut, dir: String): Seq[String] = {
    Files.createDirectories(Paths.get(dir))
    cut.parts.foreach {
      case (t, Pinned(schema, files)) => gw.copyFiles(schema, files, s"$dir/$t")
      case (t, Copied(df)) => df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$t")
    }
    Files.write(Paths.get(dir, ManifestName),
      cut.manifestLines.mkString("\n").getBytes("UTF-8"))
    cut.tables
  }

  /** Synchronous capture+export (the `EXPORT DATABASE` statement path —
    * already serialized under the gateway write lock). */
  def exportDatabase(gw: SqlGateway, dir: String): Seq[String] = {
    val cut = captureCut(gw)
    try exportCut(gw, cut, dir) finally gw.releasePins(cut.pins)
  }

  def importDatabase(gw: SqlGateway, dir: String): Seq[String] = {
    val spark = gw.spark
    val allLines = new String(Files.readAllBytes(Paths.get(dir, ManifestName)), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq
    val (metaLines, lines) = allLines.partition(_.startsWith("#"))
    val imported = lines.map { line =>
      val parts = line.split("\\|", -1)
      val (t, pk, nn) = (parts(0),
        parts.lift(1).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil),
        parts.lift(2).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil))
      val ck = parts.lift(3).filter(_.nonEmpty).map(_.split(";").toSeq.map(b =>
        new String(java.util.Base64.getDecoder.decode(b), "UTF-8"))).getOrElse(Nil)
      gw.dropTable(t)
      gw.createFromData(t, spark.read.parquet(s"$dir/$t"))
      if (pk.nonEmpty || nn.nonEmpty) gw.constraints(t.toLowerCase) = (pk, nn)
      else gw.constraints.remove(t.toLowerCase)
      if (ck.nonEmpty) gw.checks(t.toLowerCase) = ck
      else gw.checks.remove(t.toLowerCase)
      t
    }
    // IMPORT DATABASE replaces whole-database state in the reference
    // (store/store.go:314 after a dir wipe) — constraint metadata for
    // tables absent from the manifest must not linger and bind to
    // unrelated tables recreated later under the same name
    val keep = imported.map(_.toLowerCase).toSet
    gw.constraints.keys.filterNot(keep).foreach(gw.constraints.remove)
    gw.checks.keys.filterNot(keep).foreach(gw.checks.remove)
    // database-level metadata replaces wholesale, like the tables
    def unb64(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    gw.sequences.clear(); gw.seqStarts.clear()
    gw.macros.clear(); gw.macroDefaults.clear()
    gw.indexes.clear(); gw.comments.clear()
    gw.tempTables.clear() // temp-ness does not survive EXPORT (probed)
    gw.namedTypes.clear(); gw.columnDefaults.clear(); gw.clearViews()
    metaLines.foreach { line =>
      line.split("\\|", -1).toList match {
        case "#view3" :: n :: as :: b :: Nil =>
          val aliases = Some(as).filter(_.nonEmpty)
            .map(_.split(",", -1).map(unb64).toSeq)
          gw.registerViewRaw(unb64(n), aliases, unb64(b))
        case "#view2" :: n :: as :: b :: Nil =>
          // register WITHOUT bind-now: restore must complete even when a
          // view is broken (base table dropped post-create) or
          // self-referencing; first use lazily binds and records any error
          val aliases = Some(unb64(as)).filter(_.nonEmpty)
            .map(_.split(",", -1).map(_.trim).toSeq)
          gw.registerViewRaw(unb64(n), aliases, unb64(b))
        case "#view" :: ddl :: Nil =>
          // pre-r10 manifest format: DDL replay (bind-now)
          gw.execute(unb64(ddl))
        case "#type" :: n :: spec :: Nil =>
          gw.namedTypes(n) = unb64(spec)
        case "#comment" :: k :: v :: Nil =>
          gw.comments(unb64(k)) = unb64(v)
        case "#default" :: t :: c :: d :: Nil =>
          gw.columnDefaults.updateWith(t) { cur =>
            Some(cur.getOrElse(Map.empty) + (c -> unb64(d)))
          }
        case "#seq2" :: n :: next :: inc :: min :: max :: cyc :: rest
            if rest.lengthIs <= 1 =>
          gw.sequences(n) = SqlGateway.SeqState(next.toLong, inc.toLong,
            min.toLong, max.toLong, cyc.toBoolean)
          rest.headOption.foreach(s => gw.seqStarts(n) = s.toLong)
        case "#seq" :: n :: next :: inc :: Nil => // pre-r11 manifests
          val i = inc.toLong
          gw.sequences(n) = SqlGateway.SeqState(next.toLong, i,
            if (i < 0) Long.MinValue else 1L,
            if (i < 0) -1L else Long.MaxValue, cycle = false)
        case "#macro" :: n :: params :: body :: rest if rest.size <= 1 =>
          gw.macros(n) =
            (params.split(",").map(_.trim).filter(_.nonEmpty).toSeq, unb64(body))
          val dflts = rest.headOption.toSeq.flatMap(_.split(",").toSeq)
            .flatMap { e =>
              e.split(":=", 2) match {
                case Array(p, d) if d.nonEmpty => Some(p -> unb64(d))
                case _ => None
              }
            }.toMap
          if (dflts.nonEmpty) gw.macroDefaults(n) = dflts
          else gw.macroDefaults.remove(n)
        case "#index" :: n :: t :: cols :: uniq :: Nil =>
          gw.indexes(n) = (t, cols.split(",").toSeq, uniq.toBoolean)
        case _ => () // unknown metadata line — forward compatibility
      }
    }
    imported
  }

  /** `/status`-equivalent surface (reference `http/service.go:144-193`):
    * engine + catalog facts instead of raft stats, and the gateway's
    * driver-image cache (`image_bytes`, `image_entries`, `image_hits`,
    * `image_misses`). */
  def status(gw: SqlGateway): Map[String, String] = {
    val spark = gw.spark
    gw.images.stats.map { case (k, v) => k -> v.toString } ++ Map(
      "engine" -> "spark",
      "version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "appId" -> spark.sparkContext.applicationId,
      "defaultParallelism" -> spark.sparkContext.defaultParallelism.toString,
      "tables" -> ColumnShim.tableNames(spark).mkString(","),
      "uptimeMs" -> (System.currentTimeMillis() - spark.sparkContext.startTime).toString)
  }
}

package graft.sources

import java.util.{Map => JMap}

import graft.writers.VersionedHub

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin exposing a directory of versioned hubs as SQL tables —
  * the surface that makes the ACID hub a first-class `FROM` target:
  *
  * {{{
  *   spark.sql.catalog.hub      = graft.sources.HubCatalog
  *   spark.sql.catalog.hub.base = /lake/hubs
  *
  *   CREATE TABLE hub.default.events (k BIGINT, v STRING)
  *   INSERT INTO hub.default.events VALUES (1, 'a')   -- versioned commit
  *   SELECT * FROM hub.default.events VERSION AS OF 1 -- native time travel
  * }}}
  *
  * Table identity is directory layout: `<base>/<name>` is a
  * [[VersionedHub]] root (namespaces are accepted and flattened into the
  * path, so `hub.raw.events` lives at `<base>/raw/events`). `VERSION AS
  * OF n` resolves through the manifest log (Spark calls the versioned
  * `loadTable` for the native syntax); reads inherit every [[HubTable]]
  * capability — bucket pruning, manifest-answered counts, statistics.
  * `INSERT INTO` commits an APPEND version (SQL insert semantics); keyed
  * merge-upserts carry their keys explicitly through
  * `df.write.format("graft-hub").option("keys", ...)` or the library —
  * a bucketed hub refuses a keyless SQL insert loudly rather than
  * guessing merge keys from its routing columns (routing can be a key
  * SUBSET, and merging on a subset would collapse distinct keys).
  */
class HubCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = options.get("base")
    require(base != null && base.nonEmpty,
      s"catalog $name requires spark.sql.catalog.$name.base = <dir of hubs>")
  }

  override def name(): String = catalogName

  /** Column DEFAULT values are supported (Delta parity): Spark encodes a
    * column's current/existence defaults into StructField metadata
    * (`CURRENT_DEFAULT` / `EXISTS_DEFAULT`), which rides the hub's
    * recorded snapshot schema for free — every commit already carries it,
    * schema merges preserve base-field metadata, and Spark's parquet
    * reader fills the EXISTENCE default for files that predate the
    * column. INSERTs omitting the column (or saying `DEFAULT`) resolve
    * through the analyzer. NOTE the existence default is FILE-level —
    * Spark's reader fills it for ANY file not physically carrying the
    * column, including files a narrower library upsert writes after the
    * ADD; a library writer that wants NULL must write the column
    * explicitly.
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** Only the conventional single-element ["default"] namespace aliases to
    * the base dir; "default" at any deeper position is a real directory
    * segment — stripping it at depth would silently collapse
    * `hub.a.default.b` and `hub.a.b` onto one table.
    */
  private def effectiveNs(namespace: Array[String]): Array[String] =
    if (namespace.sameElements(Array("default"))) Array.empty else namespace

  private def pathOf(ident: Identifier): String =
    (effectiveNs(ident.namespace()) :+ ident.name())
      .foldLeft(new Path(base))(new Path(_, _)).toString

  private def spark = SparkSession.active

  private def fs(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def tableExists(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    VersionedHub.isHub(fs(p), new Path(p))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = effectiveNs(namespace)
      .foldLeft(new Path(base))(new Path(_, _))
    val f = fs(dir.toString)
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).collect {
      case st if st.isDirectory && VersionedHub.isHub(f, st.getPath) =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  override def loadTable(ident: Identifier): Table = {
    // `t$history` / `t$files` expose the commit log and the tip file
    // inventory as read-only metadata tables (DESCRIBE HISTORY / Iceberg
    // `.files` analogues)
    if (ident.name.endsWith("$history")) {
      val base = Identifier.of(ident.namespace,
        ident.name.stripSuffix("$history"))
      if (!tableExists(base)) throw new NoSuchTableException(base)
      return new HubMetaTable(pathOf(base), "history",
        (s, p) => VersionedHub.historyDF(s, p))
    }
    if (ident.name.endsWith("$files")) {
      val base = Identifier.of(ident.namespace,
        ident.name.stripSuffix("$files"))
      if (!tableExists(base)) throw new NoSuchTableException(base)
      return new HubMetaTable(pathOf(base), "files",
        (s, p) => VersionedHub.filesDF(s, p))
    }
    // `t$detail` — Delta `DESCRIBE DETAIL` analogue: ONE driver-local row
    // (format, location, version, sizes, layout, constraint/mapping
    // flags) from the cached manifest
    if (ident.name.endsWith("$detail")) {
      val base = Identifier.of(ident.namespace,
        ident.name.stripSuffix("$detail"))
      if (!tableExists(base)) throw new NoSuchTableException(base)
      return new HubMetaTable(pathOf(base), "detail",
        (s, p) => VersionedHub.detailDF(s, p))
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new HubTable(pathOf(ident), asOf = None)
  }

  /** Native `VERSION AS OF n` time travel. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new HubTable(pathOf(ident), asOf = Some(version.toInt))
  }

  /** Native `TIMESTAMP AS OF t` time travel. Spark hands the resolved
    * literal as MICROSECONDS since epoch; resolution to a concrete
    * version happens here (latest commit ts ≤ t — Delta semantics, see
    * [[graft.writers.VersionedHub.versionAtTimestamp]]), so the scan is
    * indistinguishable from a `VERSION AS OF` read.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = pathOf(ident)
    val v = graft.writers.VersionedHub
      .versionAtTimestamp(spark, p, Math.floorDiv(timestamp, 1000L))
    new HubTable(p, asOf = Some(v.version))
  }

  /** CREATE TABLE commits an EMPTY version 1 with the declared schema
    * (recorded in the manifest), so INSERT INTO / connector writes have a
    * base to merge against.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    createTable(ident, schema, partitions, properties, Map.empty)

  private def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String],
      checks0: Map[String, String]): Table = {
    // `CLUSTERED BY (keys...) INTO n BUCKETS` declares the hub's keyed
    // bucketed layout at CREATE — the 100 TB shape (O(touched buckets)
    // upserts, DV deletes, structural sharing) combined with every
    // CREATE-time feature (identity, generated, DEFAULT, CHECK). The
    // bucket columns ARE the table's primary keys: INSERT keeps the hub's
    // keyed-upsert semantics (last writer wins per key), like every hub
    // write. PARTITIONED BY stays refused (the hub routes by key hash).
    val bucketSpec: Option[(Seq[String], Int)] = partitions match {
      case Array() => None
      case Array(t) if t.name == "bucket" =>
        import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
        val n = t.arguments.collectFirst {
          case l: VLit[_] => l.value.asInstanceOf[Number].intValue }
          .getOrElse(throw new IllegalArgumentException(
            s"bucket transform carries no bucket count: $t"))
        require(n >= 1, s"INTO n BUCKETS needs n >= 1, got $n")
        val cols = t.arguments.toSeq.collect { case r: NamedReference =>
          require(r.fieldNames.length == 1,
            s"bucket column ${r.describe} must be a top-level column")
          val name = r.fieldNames()(0)
          require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
            s"bucket column $name is not in the schema")
          schema.fieldNames.find(_.equalsIgnoreCase(name)).get
        }
        require(cols.nonEmpty, s"CLUSTERED BY names no columns: $t")
        Some((cols, n))
      case other => throw new UnsupportedOperationException(
        "graft-hub tables bucket by key hash: use CLUSTERED BY (keys) " +
          s"INTO n BUCKETS; got ${other.mkString(", ")}")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    schema.fieldNames.foreach(graft.writers.ColumnMapping.requireLegalName)
    val p = pathOf(ident)
    // CREATE-time NOT NULL lowers onto the CHECK machinery: a synthetic
    // `notnull_<col>` check gives write-time enforcement identical to
    // Delta's schema-level NOT NULL, while the STORED schema stays
    // physically all-nullable (files never record the constraint, so a
    // later DROP NOT NULL is a pure manifest commit and old files stay
    // readable). Identity/generated columns are skipped — their values
    // are engine-filled before checks run, never null by construction.
    // TOP-LEVEL columns only: nested nullability flags are NOT a
    // constraint surface here — CTAS and API schemas carry incidental
    // non-nullable struct fields (a `struct(1 AS a)` literal, a case-class
    // encoder) that no one means as constraints, so they deep-nullify
    // into the all-nullable stored schema like every read path already
    // does; enforce a nested field with CHECK (s.a IS NOT NULL).
    val nnChecks: Map[String, String] = schema.fields.toSeq
      .filter(f => !f.nullable &&
        !org.apache.spark.sql.catalyst.util.GeneratedColumn
          .isGeneratedColumn(f) &&
        !f.metadata.contains(org.apache.spark.sql.catalyst.util
          .IdentityColumn.IDENTITY_INFO_START))
      .map(f => HubCatalog.notNullName(f.name) ->
        s"${HubCatalog.quoteIdent(f.name)} IS NOT NULL")
      .toMap
    // the notnull_ prefix is the lowering's NAMESPACE: a user check named
    // into it would make foldNotNull's name-based idempotence lie (SET
    // NOT NULL silently skipped, DROP NOT NULL deleting the user's
    // unrelated predicate) — reserved outright
    checks0.keys.find(_.toLowerCase(java.util.Locale.ROOT)
        .startsWith("notnull_")).foreach(n =>
      throw new IllegalArgumentException(
        s"constraint name $n is reserved: the notnull_ prefix belongs to " +
          "the NOT NULL lowering — declare the column NOT NULL (or pick " +
          "another name)"))
    val allChecks0 = checks0 ++ nnChecks
    val schemaN = graft.writers.VersionedHub.Version.nullable(schema)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaN)
    bucketSpec match {
      case Some((cols, n)) =>
        // CLUSTERED BY declares the bucket columns as the TABLE'S KEYS —
        // marked in their field metadata (carried by every commit, like
        // the identity mark) so keyless writes may safely merge on them;
        // library tables routed by a key SUBSET never carry the marker
        // and keep the loud keyless refusal (merging on the routing
        // column alone would collapse multi-row keys)
        val marked = StructType(schemaN.fields.map { f =>
          if (cols.exists(_.equalsIgnoreCase(f.name)))
            f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putBoolean(VersionedHub.ClusteredKeyKey, true).build())
          else f
        })
        val emptyMarked = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], marked)
        VersionedHub.writeBucketed(spark, emptyMarked, p, cols, n,
          checks0 = allChecks0)
      case None =>
        VersionedHub.write(spark, empty, p, Seq.empty, checks0 = allChecks0)
    }
    new HubTable(p, asOf = None)
  }

  /** The [[TableInfo]] CREATE path (how the parser delivers `CREATE TABLE
    * … CONSTRAINT c CHECK (…)`): the interface DEFAULT silently DROPS the
    * constraints on its way to the schema overload — store them instead,
    * recorded atomically inside the single table-creating commit (the
    * empty v1 trivially satisfies them, no validation scan needed).
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    // re-attach GENERATED ALWAYS AS expressions: the v2 Column carries
    // them in a dedicated field, and TableInfo.schema() drops them on the
    // way back to StructType — store them under Spark's own
    // generation-expression metadata key so the recorded schema (and
    // every write path reading it) sees them
    val genKey = org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY
    val idc = org.apache.spark.sql.catalyst.util.IdentityColumn
    val byName = info.columns().map(c => c.name() -> c).toMap
    val schema = StructType(info.schema().fields.map { f0 =>
      val f = byName.get(f0.name).flatMap(c =>
        Option(c.identityColumnSpec())) match {
        // GENERATED ... AS IDENTITY: store start/step/allow-explicit under
        // Spark's own identity metadata keys (IdentityColumn.getIdentityInfo
        // reads them back); the write paths allocate values above the
        // high-water mark the recorded schema carries
        case Some(spec) =>
          require(f0.dataType == org.apache.spark.sql.types.LongType,
            s"identity column ${f0.name} must be BIGINT (the distributed " +
              s"allocator spans the long range), got ${f0.dataType.sql}")
          f0.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f0.metadata)
            .putLong(idc.IDENTITY_INFO_START, spec.getStart)
            .putLong(idc.IDENTITY_INFO_STEP, spec.getStep)
            .putBoolean(idc.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
              spec.isAllowExplicitInsert)
            .build())
        case None => f0
      }
      byName.get(f.name).flatMap(c => Option(c.generationExpression())) match {
        case Some(expr) if expr.nonEmpty =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(genKey, expr).build())
        case _ => f
      }
    })
    // a generation expression reading ANOTHER generated column would see
    // that column's pre-fill NULL (all expressions compute over the same
    // input row in one projection) and silently store NULL — refuse at
    // CREATE, like Delta
    locally {
      val genNames = schema.fields
        .filter(f => org.apache.spark.sql.catalyst.util.GeneratedColumn
          .isGeneratedColumn(f))
        .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet
      for (f <- schema.fields;
           sql <- org.apache.spark.sql.catalyst.util.GeneratedColumn
             .getGenerationExpression(f)) {
        val refs = VersionedHub.checkReferences(spark, sql)
        val chained = refs.intersect(
          genNames - f.name.toLowerCase(java.util.Locale.ROOT))
        require(chained.isEmpty,
          s"generated column ${f.name} reads generated column(s) " +
            s"${chained.mkString(", ")} — generation expressions may " +
            "reference only regular and identity columns")
      }
    }
    // validate + collect the declared constraints BEFORE any commit, then
    // record them IN the table-creating commit itself — one atomic CREATE
    // (a rejected constraint must not orphan a half-created table, and a
    // crash can never leave the table silently unconstrained)
    val checks0 = info.constraints().foldLeft(Map.empty[String, String]) {
      case (m, c: org.apache.spark.sql.connector.catalog.constraints.Check) =>
        require(!m.keys.exists(_.equalsIgnoreCase(c.name())),
          s"duplicate constraint ${c.name()}")
        val sql = Option(c.predicateSql()).filter(_.nonEmpty).getOrElse(
          throw new UnsupportedOperationException(
            s"CHECK constraint ${c.name()} carries no SQL predicate"))
        val unknown = VersionedHub.checkReferences(spark, sql) --
          schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
        require(unknown.isEmpty,
          s"CHECK constraint ${c.name()} references unknown column(s) " +
            unknown.mkString(", "))
        m + (c.name() -> sql)
      case (_, other) => throw new UnsupportedOperationException(
        s"graft-hub enforces CHECK constraints only; " +
          s"${other.getClass.getSimpleName} would be recorded but never " +
          "enforced — refusing")
    }
    createTable(ident, schema, info.partitions(), info.properties(),
      checks0)
  }

  /** Zero-copy DDL schema evolution (Delta parity): ADD COLUMN (with
    * FIRST/AFTER and comment), DROP COLUMN (IF EXISTS honoured), widening
    * ALTER COLUMN TYPE, RENAME COLUMN (via column mapping — see
    * [[graft.writers.ColumnMapping]]), and COMMENT ON COLUMN — all as
    * manifest-only commits via [[VersionedHub.alterSchema]]; no data file
    * is rewritten. `ALTER COLUMN … SET/DROP NOT NULL` lowers onto the
    * synthetic notnull_<col> CHECK (see [[applyConstraint]]) — the stored
    * schema stays physically all-nullable. Everything else (table
    * properties have no store) is refused loudly. Schema ALSO evolves
    * through widening writes — DDL is for evolving ahead of the data.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = pathOf(ident)
    val renames = changes.collect {
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
        r.fieldNames()(0) -> r.newName()
    }.toMap
    val (constraintChanges, schemaChanges) = changes.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      // SET/DROP NOT NULL is a constraint change here: it lowers onto the
      // synthetic notnull_<col> CHECK, never onto stored-schema nullability
      case _: TableChange.UpdateColumnNullability => true
      case _ => false
    }
    VersionedHub.alterSchema(spark, p, schema =>
      schemaChanges.foldLeft(schema)((s, ch) => applyChange(p, s, ch)),
      renames,
      alterChecks = { baseChecks =>
        // dropping or renaming a column a stored CHECK references would
        // orphan the predicate (Delta refuses the drop too) — evaluated
        // against the FRESH base's checks on every commit attempt, so a
        // concurrent ADD CONSTRAINT races correctly
        val touched = schemaChanges.collect {
          case d: TableChange.DeleteColumn if d.fieldNames.length == 1 =>
            d.fieldNames()(0)
          case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
            r.fieldNames()(0)
        }
        for (c <- touched; (n, sql) <- baseChecks
             if VersionedHub.checkReferences(spark, sql)
               .contains(c.toLowerCase(java.util.Locale.ROOT)))
          throw new IllegalArgumentException(
            s"column $c is referenced by CHECK constraint $n ($sql) — " +
              s"DROP CONSTRAINT $n first")
        constraintChanges.foldLeft(baseChecks)((m, ch) =>
          applyConstraint(p, m, ch))
      })
    new HubTable(p, asOf = None)
  }

  /** DROP/RENAME of a column a GENERATED ALWAYS AS expression reads
    * would break every subsequent write's recompute — refused, like the
    * CHECK-reference guard (drop the generated column itself first).
    */
  private def requireNotGenerationSource(s: StructType, name: String,
      what: String): Unit =
    for (f <- s.fields;
         sql <- org.apache.spark.sql.catalyst.util.GeneratedColumn
           .getGenerationExpression(f)
         if !f.name.equalsIgnoreCase(name) &&
           VersionedHub.checkReferences(spark, sql)
             .contains(name.toLowerCase(java.util.Locale.ROOT)))
      throw new IllegalArgumentException(
        s"column $name is read by generated column ${f.name} " +
          s"(GENERATED ALWAYS AS ($sql)) — cannot $what it; drop " +
          s"${f.name} first")

  /** Fold one ADD/DROP CONSTRAINT into the stored check map. Only CHECK
    * constraints are accepted: they are the only kind this engine
    * ENFORCES (at every write path, via the codegen'd CheckInvariant —
    * see [[VersionedHub]]), and advertising an unenforced PRIMARY
    * KEY/UNIQUE/FOREIGN KEY would let the optimizer draw wrong
    * conclusions. ADD validates EXISTING rows first (one pruned scan,
    * exactly Delta's ADD CONSTRAINT contract); Spark's own SQL path
    * (AddCheckConstraintExec) validates too — the probe here also covers
    * direct API callers, preserving the invariant every write path leans
    * on: committed data always satisfies the stored checks.
    */
  private def applyConstraint(path: String, checks: Map[String, String],
      ch: TableChange): Map[String, String] = ch match {
    case add: TableChange.AddConstraint =>
      add.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          val name = c.name()
          require(!checks.keys.exists(_.equalsIgnoreCase(name)),
            s"constraint $name already exists on $path")
          // the notnull_ prefix is the NOT NULL lowering's namespace —
          // a user check squatting on it would corrupt SET/DROP NOT
          // NULL's name-based resolution (see foldNotNull)
          require(!name.toLowerCase(java.util.Locale.ROOT)
              .startsWith("notnull_"),
            s"constraint name $name is reserved: the notnull_ prefix " +
              "belongs to the NOT NULL lowering — use ALTER COLUMN … SET " +
              "NOT NULL, or pick another name")
          val sql = Option(c.predicateSql()).filter(_.nonEmpty).getOrElse(
            throw new UnsupportedOperationException(
              s"CHECK constraint $name carries no SQL predicate"))
          import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
          val bad = VersionedHub.read(spark, path)
            .filter(not(coalesce(expr(sql), lit(true)))).limit(1).collect()
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"cannot ADD CONSTRAINT $name CHECK ($sql): existing row " +
                s"violates it — ${bad.head.toString}")
          checks + (name -> sql)
        case other => throw new UnsupportedOperationException(
          s"graft-hub enforces CHECK constraints only; " +
            s"${other.getClass.getSimpleName} would be recorded but never " +
            "enforced — refusing")
      }
    case drop: TableChange.DropConstraint =>
      checks.keys.find(_.equalsIgnoreCase(drop.name())) match {
        case Some(n) => checks - n
        case None if drop.ifExists() => checks
        case None => throw new IllegalArgumentException(
          s"constraint ${drop.name()} does not exist on $path " +
            "(use IF EXISTS for a no-op)")
      }
    // ALTER COLUMN … SET NOT NULL / DROP NOT NULL (Delta parity): SET
    // validates standing data like ADD CONSTRAINT (one pruned scan), then
    // records the synthetic notnull_<col> check; DROP removes it. Both
    // are idempotent, per SQL semantics. The stored schema never flips —
    // enforcement lives entirely in the check machinery.
    case u: TableChange.UpdateColumnNullability =>
      require(u.fieldNames.length == 1,
        "graft-hub NOT NULL supports top-level columns only, got " +
          u.fieldNames.mkString("."))
      HubCatalog.foldNotNull(spark, path, checks, u.fieldNames()(0),
        u.nullable)
    case other => throw new IllegalStateException(
      s"not a constraint change: $other")
  }

  private def applyChange(path: String, s: StructType,
      ch: TableChange): StructType = ch match {
    case add: TableChange.AddColumn =>
      require(add.fieldNames.length == 1,
        "graft-hub ALTER TABLE supports top-level columns only, got " +
          add.fieldNames.mkString("."))
      val name = add.fieldNames()(0)
      require(add.isNullable,
        s"graft-hub columns are always nullable — cannot ADD COLUMN $name NOT NULL")
      require(!s.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name already exists")
      graft.writers.ColumnMapping.requireLegalName(name)
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(add.comment()).foreach(mb.putString("comment", _))
      // ADD COLUMN ... DEFAULT <expr>: the CURRENT default governs future
      // INSERTs; the EXISTENCE default is the expression's value FROZEN
      // NOW, applied by the parquet reader to every file predating the
      // column (Spark's column-default contract; Delta behaves the same)
      Option(add.defaultValue()).foreach { dv =>
        val lit = org.apache.spark.sql.catalyst.expressions.Literal(
          dv.getValue.value, dv.getValue.dataType)
        mb.putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .CURRENT_DEFAULT_COLUMN_METADATA_KEY,
          Option(dv.getSql).getOrElse(lit.sql))
        mb.putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .EXISTS_DEFAULT_COLUMN_METADATA_KEY, lit.sql)
      }
      val fld = org.apache.spark.sql.types.StructField(
        name, add.dataType, nullable = true, mb.build())
      // Live files may still hold a previously-dropped column's values
      // under this name — an unmapped add would RESURRECT them. And
      // "was this name ever used?" is UNANSWERABLE from the surviving
      // log: VACUUM truncates the manifests that recorded the column
      // while the structurally-shared data dirs (and the values in them)
      // live on. So EVERY added column gets a FRESH random physical name
      // via column mapping — no history consulted, vacuum-proof: old
      // files record no such column and read NULL, new writes land under
      // it (Delta's column-mapping re-add semantics; Delta's id mode
      // likewise never reuses a file-column name). '#' is refused in
      // user names, so the reserved namespace can never collide with a
      // logical name; 64 random bits make collision with any
      // ever-written physical name negligible, and a collision with a
      // LIVE physical name is re-rolled outright.
      val livePhys = s.fields
        .map(f => graft.writers.ColumnMapping.physName(f).toLowerCase).toSet
      val phys = Iterator.continually(
          s"$name#${java.util.UUID.randomUUID().toString
            .replace("-", "").take(16)}")
        .dropWhile(p => livePhys.contains(p.toLowerCase)).next()
      insertAt(s, graft.writers.ColumnMapping.withPhys(fld, phys),
        Option(add.position()))
    case del: TableChange.DeleteColumn =>
      require(del.fieldNames.length == 1,
        "graft-hub ALTER TABLE supports top-level columns only, got " +
          del.fieldNames.mkString("."))
      val name = del.fieldNames()(0)
      val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (idx < 0) {
        if (del.ifExists()) s
        else throw new IllegalArgumentException(
          s"column $name does not exist (use IF EXISTS for a no-op)")
      } else {
        for (bc <- VersionedHub.latest(spark, path).flatMap(_.bucketCols))
          require(!bc.exists(_.equalsIgnoreCase(name)),
            s"column $name routes this table's buckets — dropping it " +
              "would orphan the layout")
        requireNotGenerationSource(s, name, "DROP")
        StructType(s.fields.patch(idx, Nil, 1))
      }
    case ut: TableChange.UpdateColumnType =>
      require(ut.fieldNames.length == 1,
        "graft-hub ALTER TABLE supports top-level columns only")
      val name = ut.fieldNames()(0)
      val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"column $name does not exist")
      val from = s.fields(idx).dataType
      require(VersionedHub.isZeroCopyWidening(from, ut.newDataType()),
        s"ALTER COLUMN $name TYPE: only strictly-widening numeric changes " +
          s"are zero-copy readable over existing files ($from → " +
          s"${ut.newDataType()} is not); rewrite via a widening write instead")
      StructType(s.fields.updated(idx,
        s.fields(idx).copy(dataType = ut.newDataType())))
    case ud: TableChange.UpdateColumnDefaultValue =>
      // SET DEFAULT changes the CURRENT default only — future INSERTs.
      // The EXISTENCE default (what old files read) stays frozen at ADD
      // time, and DROP DEFAULT clears the current one without touching
      // it — exactly Delta/Spark semantics.
      require(ud.fieldNames.length == 1,
        "graft-hub ALTER TABLE supports top-level columns only")
      val name = ud.fieldNames()(0)
      val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"column $name does not exist")
      val f = s.fields(idx)
      val curKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .CURRENT_DEFAULT_COLUMN_METADATA_KEY
      val nb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      // flatMap the SQL text through Option: a DefaultValue carrying an
      // expression but no SQL form yields getSql == null, and a bare
      // .map would produce Some(null) — "defined", so the legacy-string
      // fallback never ran and SET DEFAULT silently behaved as DROP
      val newSql = Option(ud.newCurrentDefault())
        .flatMap(dv => Option(dv.getSql).filter(_.nonEmpty))
        .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty))
      newSql match {
        case Some(sql) => nb.putString(curKey, sql)
        case None =>
          // only an explicit DROP DEFAULT (no DefaultValue at all) may
          // clear the current default; a SET that provides neither SQL
          // form is unrecordable and must fail loudly, not drop
          require(ud.newCurrentDefault() == null,
            s"SET DEFAULT for column $name carries a DefaultValue with " +
              "no SQL text — provide the default as a SQL expression")
          nb.remove(curKey)
      }
      StructType(s.fields.updated(idx, f.copy(metadata = nb.build())))
    case uc: TableChange.UpdateColumnComment =>
      require(uc.fieldNames.length == 1,
        "graft-hub ALTER TABLE supports top-level columns only")
      val name = uc.fieldNames()(0)
      val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"column $name does not exist")
      val f = s.fields(idx)
      StructType(s.fields.updated(idx, f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString("comment", uc.newComment())
          .build())))
    case rn: TableChange.RenameColumn =>
      // RENAME COLUMN via column mapping (Delta name-mode parity): the
      // field keeps its frozen PHYSICAL file name in metadata and only the
      // logical name changes — a manifest-only commit, no file rewritten.
      // Renaming onto a HISTORICAL name (one a dropped or earlier-renamed
      // column used) is safe and allowed, as in Delta: logical names are
      // labels over the frozen physical namespace, every read/write/stat
      // lookup translates through the mapping, and ADD COLUMN always
      // mints a fresh physical name — no path ever resolves a column by
      // its historical logical name.
      require(rn.fieldNames.length == 1,
        "graft-hub ALTER TABLE supports top-level columns only, got " +
          rn.fieldNames.mkString("."))
      val name = rn.fieldNames()(0)
      val newName = rn.newName()
      val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"column $name does not exist")
      require(!s.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"column $newName already exists")
      graft.writers.ColumnMapping.requireLegalName(newName)
      requireNotGenerationSource(s, name, "RENAME")
      val f = s.fields(idx)
      StructType(s.fields.updated(idx,
        graft.writers.ColumnMapping.withPhys(f,
          graft.writers.ColumnMapping.physName(f)).copy(name = newName)))
    case other =>
      throw new UnsupportedOperationException(
        s"graft-hub ALTER TABLE does not support ${other.getClass.getSimpleName}" +
          " (table properties have no store)")
  }

  private def insertAt(s: StructType,
      f: org.apache.spark.sql.types.StructField,
      pos: Option[org.apache.spark.sql.connector.catalog.TableChange.ColumnPosition])
      : StructType = pos match {
    case None => StructType(s.fields :+ f)
    case Some(_: TableChange.First) => StructType(f +: s.fields)
    case Some(a: TableChange.After) =>
      val i = s.fieldNames.indexWhere(_.equalsIgnoreCase(a.column()))
      require(i >= 0, s"AFTER ${a.column()}: no such column")
      StructType(s.fields.patch(i + 1, Seq(f), 0))
    case Some(other) =>
      throw new UnsupportedOperationException(s"column position $other")
  }

  /** DDL relies on filesystem rename/delete atomicity the same way commits
    * rely on create-exclusive — route it through the same loud scheme guard
    * (and commit-coordinator seam) instead of silently assuming it.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    VersionedHub.checkAtomicCommitScheme(p)
    // a later CREATE at this path restarts version numbering — stale
    // cached manifests from this incarnation must not serve it
    VersionedHub.invalidateCache(p)
    tableExists(ident) && fs(p).delete(new Path(p), true)
  }

  /** `'db.t'`-style table argument of a maintenance procedure → hub path
    * (same namespace flattening as SQL identifiers).
    */
  private[sources] def tablePathOf(table: String): String = {
    val parts = table.split("\\.").toIndexedSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table argument '$table' — use 't' or 'ns.t'")
    pathOf(Identifier.of(parts.dropRight(1).toArray, parts.last))
  }

  /** Iceberg-style SQL maintenance surface:
    * `CALL <cat>.system.{vacuum,optimize,zorder,restore,repair}(...)` —
    * see [[HubProcedures]].
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    HubProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else HubProcedures.ProcedureNames
      .map(Identifier.of(Array("system"), _)).toArray

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    val (src, dst) = (new Path(pathOf(from)), new Path(pathOf(to)))
    VersionedHub.checkAtomicCommitScheme(src.toString)
    VersionedHub.checkAtomicCommitScheme(dst.toString)
    val f = fs(src.toString)
    f.mkdirs(dst.getParent)
    VersionedHub.invalidateCache(src.toString)
    VersionedHub.invalidateCache(dst.toString)
    require(f.rename(src, dst), s"rename $src -> $dst failed")
  }
}

object HubCatalog {
  /** The deterministic name of the synthetic CHECK a column's NOT NULL
    * lowers onto — CREATE-time NOT NULL, `ALTER COLUMN … SET NOT NULL`
    * and `DROP NOT NULL` all resolve through it, so the three surfaces
    * manage one constraint.
    */
  private[sources] def notNullName(col: String): String =
    "notnull_" + col.toLowerCase(java.util.Locale.ROOT)

  /** Backtick-quote an identifier for embedding in a synthetic check
    * predicate. requireLegalName admits reserved words and characters
    * that are operator/comment tokens when unquoted (`order`, `a--b`,
    * `x OR true`); an unquoted embedding would either fail expr() at
    * every commit or silently change the predicate's meaning. Delta
    * quotes identifiers in its lowered constraints for the same reason.
    */
  private[sources] def quoteIdent(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Fold SET/DROP NOT NULL into a stored check map — shared by the
    * catalog's TableChange path and the SQL rule's
    * [[GraftSetNotNullCommand]]. SET validates standing data first (one
    * pruned NULL-probe scan, Delta's ADD CONSTRAINT contract); both
    * directions are idempotent per SQL semantics.
    */
  private[sources] def foldNotNull(
      spark: org.apache.spark.sql.SparkSession, path: String,
      checks: Map[String, String], col: String, nullable: Boolean)
      : Map[String, String] = {
    val name = notNullName(col)
    if (nullable)
      checks.keys.find(_.equalsIgnoreCase(name)).fold(checks)(checks - _)
    else if (checks.keys.exists(_.equalsIgnoreCase(name))) checks
    else {
      val bad = graft.writers.VersionedHub.read(spark, path)
        .filter(org.apache.spark.sql.functions.expr(
          s"${quoteIdent(col)} IS NULL"))
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"cannot SET NOT NULL on $col: an existing row is NULL — " +
            s"${bad.head.toString}")
      checks + (name -> s"${quoteIdent(col)} IS NOT NULL")
    }
  }
}

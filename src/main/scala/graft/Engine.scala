package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's public entry point — the equivalent of Presto's
  * `/v1/statement` + LocalQueryRunner surface (SURVEY §3): a SQL interface
  * over a registered catalog, with the Presto function-name compatibility
  * layer installed so queries written for the reference run unchanged.
  *
  * Lifecycle mapping: parse/analyze/optimize/schedule/execute are Catalyst +
  * Tungsten (SURVEY §3 "Spark equivalence"); this class only contributes the
  * catalog and the function surface.
  */
class Engine(parent: SparkSession) {

  /** Isolated session (shared SparkContext, own temp-view + function
    * registry, own extension set): the Presto-semantics names (e.g.
    * literal-delimiter `split`, heap `max_by`) must not shadow Spark
    * builtins for DataFrame-API code running on the parent session —
    * `functions.split` & co. resolve BY NAME through the session's registry
    * on Spark 4, so registering compat names on a shared session silently
    * changes unrelated plans. The same holds for the dialect's parser and
    * analyzer rules (PrestoDialect), installed on this session only. */
  val spark: SparkSession = org.apache.spark.sql.classic.GraftPlanBridge
    .newSession(parent, PrestoDialect.install)

  // Presto is strict: division by zero, invalid casts, and out-of-bounds
  // subscripts THROW (SURVEY §7 risk register). ANSI mode is the matching
  // Spark semantic — scoped to this isolated session.
  spark.conf.set("spark.sql.ansi.enabled", "true")

  // Presto has a first-class TIME type (SPI/type/TimeType.java); Spark 4.1
  // ships one behind a flag — enabling it makes TIME literals, casts,
  // extracts and arithmetic work natively in this session.
  spark.conf.set("spark.sql.timeType.enabled", "true")

  // Presto string literals have NO escape processing ('\d' is a backslash
  // and a d — the reference's own regex corpus depends on it:
  // TestRegexpFunctions passes '(\d{3})' verbatim); Spark's default
  // C-style escaping would eat the backslash. LIKE's default-escape
  // difference this exposes is handled in PrestoSql.likeNoEscape.
  spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")

  functions.PrestoFunctions.registerAll(spark)

  // current_path session function (SqlBase.g4 CURRENT_PATH niladic special;
  // SetPathTask stores the path, current_path reads it back — empty string
  // when unset, matching the reference). The builder re-reads the session
  // var at every resolution, so SET PATH takes effect immediately.
  spark.sessionState.functionRegistry.createOrReplaceTempFunction(
    "current_path",
    _ => org.apache.spark.sql.catalyst.expressions.Literal(
      sessionPath.getOrElse("")),
    "scala_udf")

  /** Register every fixture table under its Presto-visible name. */
  def loadCatalog(dir: String): Engine = {
    Tables.registerAll(spark, dir)
    this
  }

  private val tablePaths =
    scala.collection.mutable.Map.empty[String, (String, String)]

  /** Register one external parquet/orc/csv/json path as a table. */
  def registerTable(name: String, path: String, format: String = "parquet"): Engine = {
    spark.read.format(format).load(path).createOrReplaceTempView(name)
    tablePaths(name) = (path, format)
    this
  }

  // --- transactions (SqlBase.g4:86-88; MAIN/transaction/TransactionManager
  // .java:77). The reference's transactions gate CONNECTOR WRITES: work is
  // staged per-transaction and applied by the connector's commit. Same
  // protocol here: inside a transaction, DML against path-backed tables is
  // computed immediately (so row counts return, and the statement sees the
  // pre-transaction snapshot) but its COMMIT STEP — the append / atomic
  // directory swap — is deferred to commit(); rollback() discards the
  // staging. Like the reference's Hive connector, at most one write
  // statement per table per transaction (keeps snapshot counts equal to
  // apply-time counts).
  private var inTransaction = false
  private val txOps = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  private val txTables = scala.collection.mutable.Set.empty[String]

  /** START TRANSACTION. */
  def startTransaction(): Engine = {
    require(!inTransaction, "transaction already in progress")
    inTransaction = true
    this
  }

  /** COMMIT: apply the staged write operations in statement order. */
  def commit(): Unit = {
    require(inTransaction, "no transaction in progress")
    try txOps.foreach(op => op())
    finally { txOps.clear(); txTables.clear(); inTransaction = false }
  }

  /** ROLLBACK: discard the staged write operations. */
  def rollback(): Unit = {
    require(inTransaction, "no transaction in progress")
    txOps.clear(); txTables.clear(); inTransaction = false
  }

  private def stageOrRun(table: String, run: () => Unit): Unit =
    if (inTransaction) {
      require(!txTables.contains(table),
        s"table '$table' already written in this transaction " +
          "(one write statement per table per transaction)")
      txTables += table
      txOps += run
    } else run()

  /** INSERT INTO <name> SELECT … for path-backed tables: appends the query
    * result to the table's files and refreshes the view (TableWriterOperator
    * append + TableFinishOperator commit). Returns rows inserted. In a
    * transaction the result is staged to a scratch directory and the append
    * happens at COMMIT. */
  def insertInto(name: String, sqlText: String): Long =
    insertInto(name, Nil, sqlText)

  /** INSERT INTO <name> (col, ...) <query>: the column-list form
    * (AbstractTestDistributedQueries testInsert) — named columns take the
    * query's values IN LIST ORDER, every unmentioned column becomes NULL,
    * matching the reference's writer semantics. */
  def insertInto(name: String, columns: Seq[String], sqlText: String): Long = {
    val (path, format) = tablePaths.getOrElse(name,
      throw new IllegalArgumentException(
        s"INSERT requires a path-backed table; '$name' is not registered with a path"))
    accessControl.checkTable(name, "INSERT") // checkCanInsertIntoTable
    val src = sql(sqlText) // source query needs SELECT on its tables
    val rows =
      if (columns.isEmpty) src
      else {
        val schema = spark.table(name).schema
        require(columns.length == src.schema.length,
          s"INSERT column list has ${columns.length} columns but the query produces ${src.schema.length}")
        val byName = columns.zip(src.schema.fieldNames).toMap
        val aligned = schema.fields.map { f =>
          byName.get(f.name) match {
            case Some(srcCol) =>
              src.col(s"`$srcCol`").cast(f.dataType).as(f.name)
            case None =>
              org.apache.spark.sql.functions.lit(null)
                .cast(f.dataType).as(f.name)
          }
        }
        src.select(aligned.toSeq: _*)
      }
    if (!inTransaction) {
      val n = rows.count()
      rows.write.mode("append").format(format).save(path)
      registerTable(name, path, format)
      n
    } else {
      val staging = path.stripSuffix("/") + s"__tx_insert"
      rows.write.mode("overwrite").format(format).save(staging)
      val n = spark.read.format(format).load(staging).count()
      stageOrRun(name, () => {
        spark.read.format(format).load(staging).write
          .mode("append").format(format).save(path)
        Engine.deleteDir(new java.io.File(staging))
        registerTable(name, path, format)
      })
      n
    }
  }

  /** DELETE FROM <name> WHERE <predicate> for path-backed tables
    * (DeleteOperator.java:1 / MetadataDeleteOperator.java — row deletes
    * against a writable connector). Parquet has no row-level delete, so this
    * is a copy-on-write rewrite: surviving rows land in a fresh directory,
    * which then atomically replaces the old one — the same strategy
    * table-format layers (Delta/Iceberg CoW) use. Returns rows deleted.
    * At cluster scale the rewrite is a full scan + write of only the
    * affected partitions' data; pair with partitioned layouts so the
    * predicate prunes the rewrite set. */
  def delete(name: String, predicateSql: String): Long = {
    val (path, format) = tablePaths.getOrElse(name,
      throw new IllegalArgumentException(
        s"DELETE requires a path-backed table; '$name' is not registered with a path"))
    accessControl.checkTable(name, "DELETE") // checkCanDeleteFromTable
    val before = spark.table(name).count()
    // survivors via full SQL (not Dataset.filter, whose expression parser
    // rejects subqueries): NULL predicate rows survive, like the
    // reference's DELETE (three-valued WHERE keeps UNKNOWN rows unmatched)
    val survivors = sql(
      s"SELECT * FROM $name WHERE NOT ($predicateSql) OR ($predicateSql) IS NULL")
    val tmp = path.stripSuffix("/") + "__rewrite"
    survivors.write.mode("overwrite").format(format).save(tmp)
    val deleted = before - spark.read.format(format).load(tmp).count()
    // commit: swap directories (TableFinishOperator's commit step)
    stageOrRun(name, () => {
      val target = new java.io.File(path)
      Engine.deleteDir(target)
      require(new java.io.File(tmp).renameTo(target),
        s"DELETE commit failed: cannot move $tmp to $path")
      registerTable(name, path, format)
    })
    deleted
  }

  /** SHOW PARTITIONS FROM <table> (SqlBase.g4:89 — the hive-metastore
    * partition listing, deprecated upstream). For a hive-layout path table
    * the partition set IS the k=v directory tree, so this enumerates
    * directories — metadata-only, no data scan (the metastore-read cost
    * profile). One row per partition, partition-key columns as strings. */
  def showPartitions(name: String): DataFrame = {
    val (path, _) = tablePaths.getOrElse(name,
      throw new IllegalArgumentException(
        s"SHOW PARTITIONS requires a path-backed table; '$name' has no path"))
    def walk(dir: java.io.File,
             acc: Vector[(String, String)]): Vector[Vector[(String, String)]] = {
      val subs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.contains("="))
      if (subs.isEmpty) { if (acc.nonEmpty) Vector(acc) else Vector.empty }
      else subs.toVector.flatMap { d =>
        val Array(k, v) = d.getName.split("=", 2)
        walk(d, acc :+ (k -> v))
      }
    }
    val parts = walk(new java.io.File(path), Vector.empty)
    require(parts.nonEmpty, s"table '$name' is not partitioned")
    val keys = parts.head.map(_._1)
    import spark.implicits._
    val rows = parts.map(_.map(_._2) match {
      case vs => org.apache.spark.sql.Row.fromSeq(vs)
    })
    val schema = org.apache.spark.sql.types.StructType(keys.map(k =>
      org.apache.spark.sql.types.StructField(k,
        org.apache.spark.sql.types.StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy(keys.map(col => $"$col"): _*)
  }

  // Views are stored as TEXT and re-bound lazily, like the reference
  // (SPI/ConnectorViewDefinition.java stores SQL; analysis happens per
  // query): a view over a table that was later REPLACED with a compatible
  // schema resolves against the new table, not a stale snapshot
  // (AbstractTestDistributedQueries testCompatibleTypeChangeForView).
  private val viewTexts =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** CREATE [OR REPLACE] VIEW equivalent. */
  def createView(name: String, sqlText: String): Engine = {
    viewTexts(name) = sqlText
    rebindView(name)
    this
  }

  /** View name → stored SQL text (information_schema.views source). */
  private[graft] def viewDefinitions: Map[String, String] = viewTexts.toMap

  /** Install a plugin WINDOW function into this session — the
    * WindowFunctionSignature SPI analogue (§2.11); see
    * graft.functions.WindowPlugins. */
  def registerWindowFunction(name: String,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Engine = {
    functions.WindowPlugins.register(spark, name, builder)
    this
  }

  /** DROP VIEW. */
  def dropView(name: String): Engine = {
    viewTexts.remove(name)
    spark.catalog.dropTempView(name)
    this
  }

  private def rebindView(name: String): Unit =
    try spark.sql(viewTexts(name)).createOrReplaceTempView(name)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      // base table gone / incompatibly changed: the view is STALE — drop
      // the binding so only queries that touch it fail (with NOT_FOUND)
      spark.catalog.dropTempView(name)
    }

  /** DROP TABLE for a path-backed table: removes the files and the
    * registration (connector drop). */
  def dropTable(name: String): Engine = {
    accessControl.checkTable(name, "DELETE")
    tablePaths.remove(name).foreach { case (path, _) =>
      Engine.deleteDir(new java.io.File(path))
    }
    spark.catalog.dropTempView(name)
    this
  }

  /** ALTER TABLE ... RENAME TO (SqlBase.g4 #renameTable): a metadata-only
    * move of the registration, like HiveMetadata.renameTable. */
  def renameTable(oldName: String, newName: String): Engine = {
    val (path, format) = tablePaths.getOrElse(oldName,
      throw new IllegalArgumentException(s"table '$oldName' is not registered"))
    require(!tablePaths.contains(newName), s"table '$newName' already exists")
    tablePaths.remove(oldName)
    spark.catalog.dropTempView(oldName)
    registerTable(newName, path, format)
  }

  /** ALTER TABLE ... RENAME COLUMN (#renameColumn): metadata-level — the
    * table handle (our temp view) projects the stored files under the new
    * name; the files themselves are untouched, like the reference's
    * metastore-only rename. */
  def renameColumn(table: String, oldCol: String, newCol: String): Engine = {
    spark.table(table).withColumnRenamed(oldCol, newCol)
      .createOrReplaceTempView(table)
    this
  }

  /** ALTER TABLE ... ADD COLUMN (#addColumn): existing rows read NULL for
    * the new column (the reference's semantics for files written before
    * the schema change). */
  def addColumn(table: String, colName: String, typeDdl: String): Engine = {
    spark.table(table).withColumn(colName,
      org.apache.spark.sql.functions.lit(null)
        .cast(org.apache.spark.sql.types.DataType.fromDDL(typeDdl)))
      .createOrReplaceTempView(table)
    this
  }

  /** ALTER TABLE ... DROP COLUMN (#dropColumn). */
  def dropColumn(table: String, colName: String): Engine = {
    val remaining = spark.table(table).schema.fieldNames
      .filterNot(_.equalsIgnoreCase(colName))
    require(remaining.length < spark.table(table).schema.length,
      s"column '$colName' not found in $table")
    spark.table(table).select(remaining.head, remaining.tail: _*)
      .createOrReplaceTempView(table)
    this
  }

  /** CREATE TABLE AS SELECT to a path (TableWriterOperator +
    * TableFinishOperator: write, commit, expose as a table). */
  def ctas(name: String, sqlText: String, path: String,
      format: String = "parquet"): Engine = {
    spark.sql(sqlText).write.mode("overwrite").format(format).save(path)
    registerTable(name, path, format)
  }

  /** Presto CTAS with table properties (SqlBase.g4 #createTableAsSelect
    * WITH properties; presto-hive HiveTableProperties.java:47-48):
    * `CREATE TABLE t WITH (bucketed_by = ARRAY['k'], bucket_count = N
    * [, external_location = '...'] [, format = '...']) AS SELECT ...` —
    * the reference's user-facing entry to bucketed (grouped-execution)
    * storage. Bucketed tables persist through
    * operators/Bucketing.persistBucketed (one sorted file per bucket +
    * the re-registration marker), so joins/aggregates keyed on the
    * bucket columns plan exchange-free. Returns the reference's CTAS
    * result shape: one `rows` column with the written count. */
  private def ctasWithProperties(name: String, propsText: String,
      select: String): DataFrame = {
    val props = splitTopLevel(propsText).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k.trim.toLowerCase(java.util.Locale.ROOT) -> v.trim)
        case _ => None
      }
    }.toMap
    def arrayNames(v: String): Seq[String] =
      "'([^']*)'".r.findAllMatchIn(v).map(_.group(1)).toSeq
    val bucketCols = props.get("bucketed_by").map(arrayNames).getOrElse(Nil)
    val location = props.get("external_location")
      .map(_.stripPrefix("'").stripSuffix("'"))
      .getOrElse(java.nio.file.Files
        .createTempDirectory(s"graft-ctas-$name").toString)
    val format = props.get("format")
      .map(_.stripPrefix("'").stripSuffix("'").toLowerCase(java.util.Locale.ROOT))
      .getOrElse("parquet")
    val df = this.sql(select)
    if (bucketCols.nonEmpty) {
      val buckets = props.getOrElse("bucket_count", sys.error(
        "bucket_count must be specified when bucketed_by is set")).toInt
      graft.operators.Bucketing.persistBucketed(
        spark, df, location, name, bucketCols.mkString(","), buckets)
      val tbl = graft.operators.Bucketing
        .registerBucketed(spark, location, name).get
      spark.table(tbl).createOrReplaceTempView(name)
      tablePaths(name) = (s"$location/${name}_b", format)
    } else {
      ctas(name, select, location, format)
    }
    import spark.implicits._
    Seq(spark.table(name).count()).toDF("rows")
  }

  /** Session access control (GRANT/REVOKE/SHOW GRANTS + enforcement —
    * see graft.AccessControl). Allow-all until enabled, like the
    * reference's AllowAllAccessControl default. */
  val accessControl = new AccessControl

  def sql(query: String): DataFrame = {
    statementForms(query) match {
      case Some(df) => return df
      case None =>
    }
    accessControl.check(spark, query)
    // late-bind stored views: each query re-analyzes the view text, so a
    // view over a since-replaced table resolves against the NEW table
    viewTexts.keys.foreach(rebindView)
    // information_schema connector: materialize the metadata tables from
    // the CURRENT catalog state and repoint the qualified names (Spark
    // temp views are database-less) — see graft.InformationSchema
    val query1 =
      if (InformationSchema.referenced(query)) {
        InformationSchema.register(this)
        InformationSchema.repoint(query)
      } else query
    // the session's parser and analyzer do the Presto dialect
    // (PrestoDialect): one parse, one analysis
    spark.sql(query1)
  }

  /** GRANT <privileges> ON <table> TO <grantee> (SqlBase.g4:58-61). */
  def grant(privileges: Seq[String], table: String, grantee: String,
            withGrantOption: Boolean = false): Engine = {
    accessControl.grant(privileges, table, grantee, withGrantOption)
    this
  }

  /** REVOKE <privileges> ON <table> FROM <grantee> (SqlBase.g4:62-65). */
  def revoke(privileges: Seq[String], table: String, grantee: String): Engine = {
    accessControl.revoke(privileges, table, grantee)
    this
  }

  /** SHOW GRANTS [ON <table>] (SqlBase.g4:66). */
  def showGrants(table: Option[String] = None,
                 grantee: Option[String] = None): DataFrame =
    accessControl.showGrants(spark, table, grantee)

  // --- Statement-level lifecycle forms (SqlBase.g4: PREPARE / EXECUTE /
  // DEALLOCATE PREPARE / SET SESSION / RESET SESSION / SHOW SESSION) —
  // the SQL spellings of the prepare/session APIs, dispatched before
  // Spark parsing so `engine.sql("PREPARE q FROM …")` works as in the
  // reference's CLI. ---

  /** Session-property store seeded with a representative subset of the
    * reference's SystemSessionProperties (names + defaults from
    * MAIN/SystemSessionProperties.java); SET SESSION accepts any name,
    * like the reference accepts catalog properties it cannot verify. */
  private val sessionPropDefaults: Seq[(String, String, String, String)] = Seq(
    ("optimize_hash_generation", "true", "boolean", "Compute hash codes for distribution, joins, and aggregations early in query plan"),
    ("distributed_join", "true", "boolean", "Use a distributed join instead of a broadcast join"),
    ("hash_partition_count", "100", "integer", "Number of partitions for distributed joins and aggregations"),
    ("task_concurrency", "16", "integer", "Default number of local parallel jobs per worker"),
    ("query_max_memory", "20GB", "varchar", "Maximum amount of distributed memory a query can use"),
    ("query_max_run_time", "100.00d", "varchar", "Maximum run time of a query"),
    ("redistribute_writes", "true", "boolean", "Force parallel distributed writes"),
    ("spatial_join", "true", "boolean", "Use spatial index for spatial join when possible"),
    ("colocated_join", "false", "boolean", "Experimental: Use a colocated join when possible"),
    ("join_reordering_strategy", "ELIMINATE_CROSS_JOINS", "varchar", "The join reordering strategy to use"),
    ("resource_group", "", "varchar", "Resource group for admission control (maps to the Spark scheduler pool)"))

  private val sessionProps =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** SQL path set by SET PATH (SetPathTask.java stores the formatted path
    * on the session; read back by the current_path session function). */
  private var sessionPath: Option[String] = None
  def currentPath: Option[String] = sessionPath

  /** SHOW SESSION (ShowQueriesRewrite: name, value, default, type,
    * description): seeded defaults overlaid with SET SESSION values. */
  def showSession(): DataFrame = {
    import spark.implicits._
    val seeded = sessionPropDefaults.map { case (n, d, t, desc) =>
      (n, sessionProps.getOrElse(n, d), d, t, desc)
    }
    val extra = sessionProps.toSeq
      .filterNot { case (k, _) => sessionPropDefaults.exists(_._1 == k) }
      .map { case (k, v) => (k, v, "", "varchar", "") }
    (seeded ++ extra).toDF("name", "value", "default", "type", "description")
  }

  /** Current value of a session property (SET SESSION overlay on seed). */
  def sessionProperty(name: String): Option[String] =
    sessionProps.get(name.toLowerCase)
      .orElse(sessionPropDefaults.find(_._1 == name.toLowerCase).map(_._2))

  private def oneWordDf(word: String): DataFrame = {
    import spark.implicits._
    Seq(true).toDF(word)
  }

  private def statementForms(query: String): Option[DataFrame] = {
    val t = query.trim.stripSuffix(";").trim
    val Prep = "(?is)^PREPARE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+FROM\\s+(.+)$".r
    val Exec = "(?is)^EXECUTE\\s+([A-Za-z_][A-Za-z0-9_]*)(\\s+USING\\s+.+)?$".r
    val Dealloc = "(?is)^DEALLOCATE\\s+PREPARE\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
    val SetS = "(?is)^SET\\s+SESSION\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*=\\s*(.+)$".r
    val ResetS = "(?is)^RESET\\s+SESSION\\s+([A-Za-z_][A-Za-z0-9_.]*)$".r
    val ShowPart = "(?is)^SHOW\\s+PARTITIONS\\s+(?:FROM|IN)\\s+([A-Za-z_][A-Za-z0-9_.]*)$".r
    val ShowStatsQ = "(?is)^SHOW\\s+STATS\\s+FOR\\s*\\((.+)\\)$".r
    val ShowStatsT = "(?is)^SHOW\\s+STATS\\s+(?:FOR|ON)\\s+([A-Za-z_][A-Za-z0-9_.]*)$".r
    val ShowGr = "(?is)^SHOW\\s+GRANTS(\\s+(ON\\s+.+))?$".r
    val ShowCre = "(?is)^SHOW\\s+CREATE\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)$".r
    val ShowCreV = "(?is)^SHOW\\s+CREATE\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_.]*)$".r
    val ShowCat = "(?is)^SHOW\\s+CATALOGS(?:\\s+LIKE\\s+'([^']*)')?$".r
    val SetPath = "(?is)^SET\\s+PATH\\s+(.+)$".r
    val SetTz = "(?is)^SET\\s+TIME\\s+ZONE\\s+(?:'([^']+)'|(LOCAL))$".r
    val DescIn = "(?is)^DESCRIBE\\s+INPUT\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
    val DescOut = "(?is)^DESCRIBE\\s+OUTPUT\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
    val Tx = "(?is)^START\\s+TRANSACTION(\\s+.*)?$".r
    val Cm = "(?is)^COMMIT(\\s+WORK)?$".r
    val Rb = "(?is)^ROLLBACK(\\s+WORK)?$".r
    val ExpAn = "(?is)^EXPLAIN\\s+ANALYZE\\s+(?:VERBOSE\\s+)?(.+)$".r
    val ExpOpt = "(?is)^EXPLAIN\\s*\\(([^)]*)\\)\\s*(.+)$".r
    def planDf(plan: String): DataFrame = {
      import spark.implicits._
      Seq(plan).toDF("Query Plan")
    }
    // EXPLAIN of a DDL/lifecycle statement returns the statement TEXT
    // (reference ExplainRewrite → assertExplainDdl: CREATE TABLE/VIEW
    // shorten to the object name, everything else echoes verbatim)
    def ddlExplain(stmt: String): Option[String] = {
      val s = stmt.trim
      val CreT = "(?is)^CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*).*$".r
      val CreV = "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?VIEW\\s+([A-Za-z_][A-Za-z0-9_.]*).*$".r
      s match {
        case Prep(name, _) => Some(s"PREPARE $name")
        case CreT(name) => Some(s"CREATE TABLE $name")
        case CreV(name) => Some(s"CREATE VIEW $name")
        case Dealloc(_) | SetS(_, _) | ResetS(_) | Tx(_) | Cm(_) | Rb(_) =>
          Some(s)
        case _ if "(?is)^(DROP|ALTER)\\s.*".r.matches(s) => Some(s)
        case _ => None
      }
    }
    // EXPLAIN [...] EXECUTE q [USING …]: explain the BOUND statement
    // (testExplainExecute/WithUsing/SetSessionWithUsing)
    def boundText(inner: String): Option[String] = inner.trim match {
      case Exec(name, usingPart) if prepared.contains(name) =>
        val args =
          if (usingPart == null) Nil
          else splitTopLevel(usingPart.trim.substring(5).trim)
        Some(bindPositional(prepared(name), args))
      case _ => None
    }
    val ExpDdl = "(?is)^EXPLAIN\\s+(.+)$".r
    val CtasW = ("(?is)^CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s+WITH\\s*\\((.+?)\\)\\s+AS\\s+(.+)$").r
    t match {
      case CtasW(name, props, select) =>
        accessControl.check(spark, select)
        Some(ctasWithProperties(name, props, select))
      case Tx(_) => startTransaction(); Some(oneWordDf("START TRANSACTION"))
      case Cm(_) => commit(); Some(oneWordDf("COMMIT"))
      case Rb(_) => rollback(); Some(oneWordDf("ROLLBACK"))
      case ExpAn(inner) => Some(planDf(explainAnalyze(inner)))
      case ExpOpt(opts, inner0) =>
        val inner = boundText(inner0).getOrElse(inner0)
        val o = opts.toUpperCase
        ddlExplain(inner) match {
          case Some(text) => Some(planDf(text))
          case None =>
            if (o.contains("GRAPHVIZ")) Some(planDf(explainGraphviz(inner)))
            else if (o.contains("VALIDATE")) {
              import spark.implicits._
              this.sql(inner).queryExecution.analyzed // force analysis
              Some(Seq(true).toDF("Valid"))
            }
            else if (o.contains("LOGICAL")) Some(planDf(explain(inner, "extended")))
            else Some(planDf(explain(inner, "formatted"))) // TYPE DISTRIBUTED
        }
      case ExpDdl(inner0) =>
        val inner = boundText(inner0).getOrElse(inner0)
        ddlExplain(inner) match {
          case Some(text) => Some(planDf(text))
          case None if !(inner0 eq inner) => // EXPLAIN EXECUTE of a query
            Some(planDf(explain(inner, "formatted")))
          case None => None // plain EXPLAIN <query> → native path
        }
      case Prep(name, body) => prepare(name, body); Some(oneWordDf("PREPARE"))
      case Dealloc(name) => deallocate(name); Some(oneWordDf("DEALLOCATE"))
      case Exec(name, usingPart) =>
        val text = prepared.getOrElse(name, throw new IllegalArgumentException(
          s"Prepared statement $name not found"))
        val args =
          if (usingPart == null) Nil
          else splitTopLevel(usingPart.trim.substring(5).trim) // drop USING
        Some(this.sql(bindPositional(text, args)))
      // SHOW PARTITIONS / SHOW STATS / SHOW CREATE TABLE read table data or
      // metadata, so they carry the same SELECT check the reference applies
      // by rewriting them into queries (ShowStatsRewrite →
      // checkCanSelectFromColumns in Analyzer.java). The query-shaped forms
      // (SHOW STATS FOR (query), EXECUTE, EXPLAIN ANALYZE) re-enter
      // this.sql and get accessControl.check there.
      case ShowPart(name) =>
        accessControl.checkTable(name, "SELECT"); Some(showPartitions(name))
      case ShowStatsQ(inner) => Some(showStatsForQuery(inner))
      case ShowStatsT(name) =>
        accessControl.checkTable(name, "SELECT"); Some(showStats(name))
      case ShowGr(_, tail) =>
        val tbl = Option(tail).map(_.trim
          .replaceAll("(?i)^ON\\s+(TABLE\\s+)?", "").trim).filter(_.nonEmpty)
        Some(showGrants(tbl))
      case ShowCre(name)
          // only the engine's temp-view-backed tables need the
          // reconstructed DDL; permanent tables/views keep Spark's
          // native SHOW CREATE TABLE rendering
          if spark.catalog.tableExists(name) &&
            spark.catalog.getTable(name).isTemporary =>
        accessControl.checkTable(name, "SELECT")
        Some(planDf(showCreateTable(name))
          .withColumnRenamed("Query Plan", "Create Table"))
      // SHOW CREATE VIEW (SqlBase.g4 #showCreateView; ShowQueriesRewrite
      // visitShowCreate VIEW branch): renders the stored ORIGINAL view sql;
      // a table name errors "is a table, not a view", a missing name
      // errors "does not exist" — the reference's exact distinction.
      case ShowCreV(name) =>
        accessControl.checkTable(name, "SELECT")
        viewTexts.get(name) match {
          case Some(text) =>
            Some(planDf(s"CREATE VIEW $name AS\n${text.trim}")
              .withColumnRenamed("Query Plan", "Create View"))
          case None =>
            if (spark.catalog.tableExists(name)) throw new IllegalArgumentException(
              s"Relation '$name' is a table, not a view")
            throw new IllegalArgumentException(s"View '$name' does not exist")
        }
      // SHOW CATALOGS [LIKE ...] (ShowQueriesRewrite visitShowCatalogs):
      // one "Catalog" column over the registered catalogs, LIKE-filtered.
      // listCatalogs() only returns catalogs already LOADED in the session;
      // union the names configured via spark.sql.catalog.<name> so a
      // configured-but-untouched catalog still lists (the reference lists
      // from CatalogManager registration, not first use).
      case ShowCat(like) =>
        import spark.implicits._
        val loaded = spark.catalog.listCatalogs().collect().map(_.name)
        val configured = spark.conf.getAll.keys.toSeq.collect {
          case k if k.startsWith("spark.sql.catalog.") &&
            !k.stripPrefix("spark.sql.catalog.").contains('.') =>
            k.stripPrefix("spark.sql.catalog.")
        }
        val names = (loaded ++ configured).distinct.toSeq.sorted
        val df = names.toDF("Catalog")
        Some(if (like == null) df
             else df.where(org.apache.spark.sql.functions.col("Catalog").like(like)))
      // SET PATH (SetPathTask.java): stores the function-resolution path on
      // the session; surfaced back via current_path/SHOW SESSION analogues.
      case SetPath(spec) =>
        sessionPath = Some(spec.trim)
        Some(oneWordDf("SET PATH"))
      // SET TIME ZONE '<id>' / SET TIME ZONE LOCAL (the session zone the
      // reference carries as TimeZoneKey on its Session): maps onto
      // spark.sql.session.timeZone, which every zone-dependent piece —
      // Spark's own timestamp parse/extract/render AND the tstz/ttz
      // struct machinery (Tstz.sessionZone) — reads. LOCAL restores the
      // engine default (UTC).
      case SetTz(zone, local) =>
        val z = if (local != null) "UTC" else {
          java.time.ZoneId.of(zone, java.time.ZoneId.SHORT_IDS) // validate
          zone
        }
        spark.conf.set("spark.sql.session.timeZone", z)
        Some(oneWordDf("SET TIME ZONE"))
      case DescIn(name) =>
        import spark.implicits._
        Some(describeInput(name).toDF("Position", "Type"))
      case DescOut(name) =>
        import spark.implicits._
        Some(describeOutput(name).toDF("Column Name", "Type"))
      case SetS(k, v) =>
        // a trailing string/identifier value keeps its literal spelling;
        // strip one layer of quotes for storage (Presto stores the value)
        val stored = v.trim match {
          case s if s.length >= 2 && s.head == '\'' && s.last == '\'' =>
            s.substring(1, s.length - 1).replace("''", "'")
          case s => s
        }
        sessionProps(k.toLowerCase) = stored
        // resource groups (MAIN/execution/resourceGroups/
        // InternalResourceGroupManager.java: per-group queueing and
        // concurrency caps, selected per session): Spark's analogue is
        // the fair-scheduler pool — per-pool weight/minShare/FIFO from
        // spark.scheduler.allocation.file — selected per thread. The
        // group name IS the pool name; jobs submitted by this engine's
        // thread after SET SESSION resource_group='g' queue in pool g.
        if (k.equalsIgnoreCase("resource_group"))
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            if (stored.isEmpty) null else stored)
        // session zone as a property spelling (SET SESSION timezone=...);
        // same ZoneId validation as the SET TIME ZONE statement — an
        // invalid id must fail HERE, not poison every later query with a
        // confusing Spark conf error
        if (k.equalsIgnoreCase("timezone") || k.equalsIgnoreCase("time_zone")) {
          java.time.ZoneId.of(stored, java.time.ZoneId.SHORT_IDS) // validate
          spark.conf.set("spark.sql.session.timeZone", stored)
        }
        Some(oneWordDf("SET SESSION"))
      case ResetS(k) =>
        sessionProps.remove(k.toLowerCase)
        if (k.equalsIgnoreCase("resource_group"))
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        if (k.equalsIgnoreCase("timezone") || k.equalsIgnoreCase("time_zone"))
          spark.conf.set("spark.sql.session.timeZone", "UTC")
        Some(oneWordDf("RESET SESSION"))
      case s if s.toUpperCase == "SHOW SESSION" => Some(showSession())
      case _ => None
    }
  }

  /** Split a USING argument list on top-level commas (literal-masked so
    * commas inside strings/parens survive). */
  private def splitTopLevel(list: String): Seq[String] = {
    val mask = PrestoSql.maskLiterals(list)
    val cuts = scala.collection.mutable.ArrayBuffer(-1)
    var depth = 0
    for (i <- mask.indices) mask(i) match {
      case '(' | '[' => depth += 1
      case ')' | ']' => depth -= 1
      case ',' if depth == 0 => cuts += i
      case _ =>
    }
    cuts += list.length
    cuts.toSeq.sliding(2).collect {
      case scala.collection.Seq(a: Int, b: Int) => list.substring(a + 1, b).trim
    }.toSeq
  }

  /** Inline positional `?` parameters with the USING expressions (Presto
    * binds parameters as literals at execution — Execute.java). The mask
    * keeps `?` inside string literals untouched. */
  private def bindPositional(text: String, args: Seq[String]): String = {
    val mask = PrestoSql.maskLiterals(text)
    val sb = new StringBuilder
    var argIdx = 0
    for (i <- text.indices) {
      if (mask(i) == '?' && text(i) == '?') {
        require(argIdx < args.length,
          s"EXECUTE: ${args.length} parameters supplied but the statement " +
            "has more ? markers")
        sb.append(args(argIdx)); argIdx += 1
      } else sb.append(text(i))
    }
    // Presto raises on parameter-count mismatch in BOTH directions
    // (Execute.java: "Incorrect number of parameters") — surplus USING
    // arguments are an error, not silently dropped.
    require(argIdx == args.length,
      s"EXECUTE: ${args.length} parameters supplied for $argIdx ? markers")
    sb.toString
  }

  private val prepared = scala.collection.mutable.Map.empty[String, String]

  /** PREPARE <name> FROM <query> (PARSER/tree/Prepare.java): stores the
    * statement text with `?` positional parameter markers. */
  def prepare(name: String, query: String): Engine = {
    prepared(name) = query
    this
  }

  /** EXECUTE <name> USING <params> (PARSER/tree/Execute.java): binds the
    * positional parameters via Spark's parameterized sql. */
  def execute(name: String, params: Any*): DataFrame = {
    val text = prepared.getOrElse(name,
      throw new IllegalArgumentException(s"Prepared statement $name not found"))
    spark.sql(text, params.toArray)
  }

  /** DEALLOCATE PREPARE <name>. */
  def deallocate(name: String): Engine = { prepared.remove(name); this }

  // --- CALL procedures (SqlBase.g4:57 #call; the reference dispatches to
  // connector procedures, SPI/procedure/Procedure.java). Registry +
  // dispatch; `system.refresh_table` ships as the built-in example (the
  // cache-invalidation procedure every deployment has).
  private val procedures =
    scala.collection.mutable.Map.empty[String, Seq[Any] => Unit]

  registerProcedure("system.refresh_table",
    args => spark.catalog.refreshTable(args.head.toString))

  /** Register a procedure for CALL dispatch. */
  def registerProcedure(name: String, p: Seq[Any] => Unit): Engine = {
    procedures(name.toLowerCase) = p
    this
  }

  /** CALL <name>(<args…>). */
  def call(name: String, args: Any*): Unit =
    procedures.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"Procedure not registered: $name")
    )(args)

  /** Presto SHOW CREATE TABLE (SqlBase.g4:70): reconstructed DDL for a
    * registered table — columns from the resolved schema, storage clause
    * from the path registration (Spark's native statement only covers
    * catalog tables, not path-backed temp views). */
  def showCreateTable(name: String): String = {
    val cols = spark.table(name).schema.fields
      .map(f => s"   ${f.name} ${f.dataType.sql}").mkString(",\n")
    val storage = tablePaths.get(name)
      .map { case (p, fmt) =>
        // bucketed layouts render their table properties the way the
        // reference's ShowCreate does (HiveTableProperties spelling)
        val marker = java.nio.file.Paths.get(p, "_graft_bucketspec")
        val props =
          if (java.nio.file.Files.isRegularFile(marker)) {
            val kv = new String(java.nio.file.Files.readAllBytes(marker),
              "UTF-8").linesIterator.map(_.split("=", 2))
              .collect { case Array(k, v) => k -> v }.toMap
            val keys = kv("key").split(",")
              .map(k => s"'$k'").mkString(", ")
            s"\nWITH (\n   bucketed_by = ARRAY[$keys],\n" +
              s"   bucket_count = ${kv("buckets")}\n)"
          } else ""
        s"\nUSING $fmt\nLOCATION '$p'$props"
      }
      .getOrElse("")
    s"CREATE TABLE $name (\n$cols\n)$storage"
  }

  /** Presto SHOW STATS FOR <table> (SqlBase.g4:78, the statistics surface
    * behind the reference's CBO — MAIN/cost/StatsCalculator.java): one
    * aggregation pass computes per-column (data_size, distinct_values_count
    * approx, nulls_fraction, low/high) plus the summary row_count row, in
    * Presto's SHOW STATS output shape. Complex-typed columns report null
    * stats (the reference does the same for unsupported types). */
  def showStats(table: String): DataFrame = showStatsOf(spark.table(table))

  /** Presto SHOW STATS FOR (query) (SqlBase.g4 #showStatsForQuery): the
    * same statistics pass over an arbitrary query's result. */
  def showStatsForQuery(query: String): DataFrame = showStatsOf(sql(query))

  private def showStatsOf(df0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = df0
    val atomic = df.schema.fields.map(f => f.name -> (f.dataType match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    })).toMap
    val aggs = df.schema.fields.flatMap { f =>
      val c = col(s"`${f.name}`")
      val sizeAgg = f.dataType match {
        case StringType => sum(length(c).cast("long"))
        case BinaryType => sum(octet_length(c).cast("long"))
        case t => sum(when(c.isNull, 0L).otherwise(t.defaultSize.toLong))
      }
      if (!atomic(f.name)) Seq.empty
      else Seq(
        approx_count_distinct(c).as(s"__ndv_${f.name}"),
        avg(c.isNull.cast("double")).as(s"__nf_${f.name}"),
        min(c).cast("string").as(s"__lo_${f.name}"),
        max(c).cast("string").as(s"__hi_${f.name}"),
        sizeAgg.as(s"__sz_${f.name}"))
    }
    val r = df.agg(count(lit(1)).as("__rc"), aggs.toSeq: _*).head
    def opt[T](name: String): Option[T] = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[T])
    }
    val rc = r.getAs[Long]("__rc")
    val rows = df.schema.fields.toSeq.map { f =>
      if (atomic(f.name))
        (f.name, opt[Long](s"__sz_${f.name}"), opt[Long](s"__ndv_${f.name}"),
          opt[Double](s"__nf_${f.name}"), Option.empty[Long],
          opt[String](s"__lo_${f.name}"), opt[String](s"__hi_${f.name}"))
      else (f.name, None, None, None, None, None, None)
    } :+ ((null: String), None, None, None, Some(rc), None, None)
    import spark.implicits._
    rows.toDF("column_name", "data_size", "distinct_values_count",
      "nulls_fraction", "row_count", "low_value", "high_value")
  }

  /** Presto DESCRIBE INPUT <prepared> (PARSER/tree/DescribeInput.java):
    * the positional parameters of a prepared statement, from the PARSED
    * plan only. Presto reports `unknown` for parameters whose type the
    * analysis cannot pin down; Spark defers all binding to execution, so
    * every position reports unknown — same surface, weaker inference. */
  def describeInput(name: String): Seq[(Int, String)] = {
    val text = prepared.getOrElse(name,
      throw new IllegalArgumentException(s"Prepared statement $name not found"))
    val parsed = spark.sessionState.sqlParser.parsePlan(text)
    val positions = scala.collection.mutable.SortedSet.empty[Int]
    def scan(e: org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      e.foreach {
        case p: org.apache.spark.sql.catalyst.analysis.PosParameter =>
          positions += p.pos
        case sub: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          sub.plan.foreach(_.expressions.foreach(scan))
        case _ =>
      }
    parsed.foreach(_.expressions.foreach(scan))
    positions.toSeq.zipWithIndex.map { case (_, i) => (i + 1) -> "unknown" }
  }

  /** Presto DESCRIBE OUTPUT <prepared> (PARSER/tree/DescribeOutput.java):
    * the result schema of a prepared statement, derived by ANALYSIS only —
    * the statement is never executed. Returns (column, type-DDL) pairs. */
  def describeOutput(name: String): Seq[(String, String)] = {
    val text0 = prepared.getOrElse(name,
      throw new IllegalArgumentException(s"Prepared statement $name not found"))
    // positional parameters bind as NULL for the analysis pass: output
    // columns that don't depend on a parameter keep their exact type, and
    // the statement is never executed (DescribeOutputRewrite analyzes with
    // unknown-typed parameters the same way)
    val mask = PrestoSql.maskLiterals(text0)
    val markers = mask.count(_ == '?')
    val text =
      if (markers == 0) text0
      else bindPositional(text0, Seq.fill(markers)("NULL"))
    analyzeOnly(text).output.map(a => a.name -> a.dataType.sql)
  }

  /** The analysed plan of a statement, which is never executed: eager
    * command execution in spark.sql() would actually run a DDL/DML
    * statement. */
  private def analyzeOnly(text: String) =
    spark.sessionState.executePlan(spark.sessionState.sqlParser.parsePlan(text)).analyzed

  /** EXPLAIN surface (Presto EXPLAIN [TYPE LOGICAL|DISTRIBUTED|VALIDATE] —
    * PARSER/tree/ExplainType.java:30-32): mode ∈ simple, extended, codegen,
    * cost, formatted. */
  def explain(query: String, mode: String = "formatted"): String =
    this.sql(query).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** EXPLAIN (FORMAT GRAPHVIZ) (grammar explainOption FORMAT;
    * QueryExplainer.java:137 graphvizLogicalPlan): the optimized logical
    * plan as a DOT digraph, one node per operator. */
  def explainGraphviz(query: String): String = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val plan = this.sql(query).queryExecution.optimizedPlan
    val sb = new StringBuilder("digraph logical_plan {\n")
    var id = 0
    def walk(node: LogicalPlan): Int = {
      val me = id
      id += 1
      val label = node.nodeName +
        (if (node.simpleString(40).length > node.nodeName.length)
          "\\n" + node.simpleString(40).replace("\"", "'") else "")
      sb.append(s"""  plannode_$me [label="$label", shape=rect];\n""")
      node.children.foreach { ch =>
        val c = walk(ch)
        sb.append(s"  plannode_$c -> plannode_$me;\n")
      }
      me
    }
    walk(plan)
    sb.append("}\n")
    sb.toString
  }

  /** Presto EXPLAIN ANALYZE (ExplainAnalyzeOperator.java:36): execute the
    * query, then report the EXECUTED plan (post-AQE — includes the runtime
    * join-strategy/coalescing decisions) with per-operator metrics. */
  def explainAnalyze(query: String): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = this.sql(query)
    // Drive execution WITHOUT collecting: pull every row through the plan
    // on the executors and discard it — runtime metrics populate
    // identically, and a 100 TB result can't OOM the driver.
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.executedPlan
    // AQE hides executed subtrees behind AdaptiveSparkPlanExec/QueryStageExec
    // (childless in the traversal API) — unwrap explicitly
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val metrics = flatten(plan).filter(_.metrics.nonEmpty).map { p =>
      val shown = p.metrics.toSeq.sortBy(_._1).take(4)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
      s"${p.nodeName}: $shown"
    }
    plan.toString + "\n== Runtime metrics ==\n" + metrics.mkString("\n")
  }

  /** Presto EXPLAIN (TYPE VALIDATE): analyze only, true if the query is
    * semantically valid against the catalog. */
  def validate(query: String): Boolean = {
    analyzeOnly(query)
    true
  }
}

object Engine {
  def apply(spark: SparkSession): Engine = new Engine(spark)

  private[graft] def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteDir)
    f.delete()
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Engine]()

  /** Cached Engine+catalog per (parent session, data dir): creating an
    * isolated session and re-reading every table's parquet footers on each
    * query would dominate small-query latency (it tripled p07's bench
    * time when uncached). */
  def cached(parent: SparkSession, dir: String): Engine =
    cache.computeIfAbsent((parent, dir), _ => new Engine(parent).loadCatalog(dir))
}

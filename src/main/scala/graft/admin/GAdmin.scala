package graft.admin

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.command.DDLUtils

import graft.model.CellSchema
import graft.write.BucketedStore

/** Admin surface — the graft twin of the reference's `Admin` API
  * (hbase-client/.../client/Admin.java: `createTable`, `deleteTable`,
  * `disableTable/enableTable`, `snapshot:~1487`, `cloneSnapshot`,
  * `listTableNames`). Tables are catalog entries over bucketed cell
  * stores (see [[BucketedStore]]); snapshots are point-in-time copies
  * (the reference snapshots HFile manifests — immutable parquet plays
  * the same role, a full copy here since we own no file-manifest
  * layer). Disable/enable is a catalog property — reads check it the
  * way the reference's master rejects ops on disabled tables.
  */
object GAdmin {

  /** Table names are interpolated into SQL — restrict to identifier
    * characters (the reference enforces its own name charset,
    * TableName.isLegalTableQualifierName). Accepts the reference's
    * `ns:table` form (TableName.valueOf); a bare name lives in the
    * default namespace. `__` is the namespace separator in the catalog
    * encoding, so it is reserved (keeps the encoding injective). */
  private def qualified(name: String) = {
    val (ns, t) = name.split(":", 2) match {
      case Array(bare)      => (None, bare)
      case Array(n, tab)    => (Some(n), tab)
    }
    require(t.matches("[A-Za-z0-9_]+") && !t.contains("__"),
      s"illegal table name '$t': only [A-Za-z0-9_] allowed, '__' reserved")
    ns.foreach(n => require(n.matches("[A-Za-z0-9_]+") && !n.contains("__"),
      s"illegal namespace '$n': only [A-Za-z0-9_] allowed, '__' reserved"))
    ns.fold(s"graft_$t")(n => s"graft_${n}__$t")
  }

  // ---- Namespaces (Admin.createNamespace / listNamespaces /
  // deleteNamespace, NamespaceDescriptor; tables address as
  // "ns:table"). The registry is a tiny catalog table; the default
  // namespace always exists and holds bare-named tables. ----

  private val NsReg = "graft_nsreg"

  private val NsRegTmp = NsReg + "_swap"

  /** Catalog tables that are graft machinery, not user tables — kept
    * out of every listing (the reference likewise hides hbase:meta /
    * hbase:quota from user-facing listings). */
  private def isSystemTable(catalogName: String): Boolean =
    catalogName == NsReg || catalogName == NsRegTmp ||
      catalogName == "graft_quotareg" || catalogName == "graft_quotareg_swap" ||
      catalogName == "graft_vislabels" || catalogName == "graft_vislabels_swap"

  /** Registry reads fall back to the swap table: a crash between the
    * old registry's drop and the swap's rename loses nothing, because
    * the new contents were durable in the swap table first. */
  private def nsRegistry(spark: SparkSession): Seq[String] =
    if (spark.catalog.tableExists(NsReg))
      spark.table(NsReg).collect().map(_.getString(0)).toSeq
    else if (spark.catalog.tableExists(NsRegTmp))
      spark.table(NsRegTmp).collect().map(_.getString(0)).toSeq
    else Nil

  /** A crashed prior process can leave a managed location on disk with
    * no catalog entry, which makes CTAS refuse — clear the orphan. */
  private[admin] def clearOrphan(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Rewrite the (driver-sized) registry crash-safely: write the new
    * contents to a swap table FIRST, then drop the old registry and
    * rename the swap into place. At no point is the only copy of the
    * registry a half-written table. */
  private def writeNsRegistry(spark: SparkSession, ns: Seq[String]): Unit = {
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $NsRegTmp")
    clearOrphan(spark, NsRegTmp)
    ns.toDF("ns").write.mode(SaveMode.Overwrite).saveAsTable(NsRegTmp)
    spark.sql(s"DROP TABLE IF EXISTS $NsReg")
    clearOrphan(spark, NsReg)
    spark.sql(s"ALTER TABLE $NsRegTmp RENAME TO $NsReg")
  }

  def createNamespace(spark: SparkSession, ns: String): Unit = {
    require(ns.matches("[A-Za-z0-9_]+") && !ns.contains("__"),
      s"illegal namespace '$ns'")
    require(ns != "default" && !nsRegistry(spark).contains(ns),
      s"namespace $ns already exists") // NamespaceExistException twin
    writeNsRegistry(spark, nsRegistry(spark) :+ ns)
  }

  def listNamespaces(spark: SparkSession): Seq[String] =
    ("default" +: nsRegistry(spark)).sorted

  def listTableNamesByNamespace(spark: SparkSession, ns: String): Seq[String] = {
    val all = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).filterNot(isSystemTable)
    if (ns == "default")
      all.filterNot(_.stripPrefix("graft_").contains("__"))
        .map(_.stripPrefix("graft_")).toSeq
    else
      all.filter(_.startsWith(s"graft_${ns}__"))
        .map(t => s"$ns:${t.stripPrefix(s"graft_${ns}__")}").toSeq
  }

  /** Delete an EMPTY namespace — the reference rejects non-empty ones
    * (ConstraintException). */
  def deleteNamespace(spark: SparkSession, ns: String): Unit = {
    require(nsRegistry(spark).contains(ns), s"no such namespace $ns")
    require(listTableNamesByNamespace(spark, ns).isEmpty,
      s"namespace $ns is not empty")
    writeNsRegistry(spark, nsRegistry(spark).filterNot(_ == ns))
  }

  /** Create an empty cell table (bucketed region layout). Families are
    * schema metadata in graft (the cell schema is universal); they are
    * recorded as a table property for describe-parity. */
  def createTable(spark: SparkSession, name: String, path: String,
      families: Seq[String] = Seq("d"), buckets: Int = 16): Unit = {
    // families are interpolated into SET TBLPROPERTIES — same identifier
    // charset guard as table names
    families.foreach(f => require(f.matches("[A-Za-z0-9_]+"),
      s"illegal family name '$f': only [A-Za-z0-9_] allowed"))
    // a namespaced table needs its namespace created first
    // (NamespaceNotFoundException twin)
    name.split(":", 2) match {
      case Array(ns, _) => require(nsRegistry(spark).contains(ns),
        s"no such namespace $ns")
      case _ =>
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], CellSchema.schema)
    // data directory uses the same injective encoding as the catalog
    // name — 'ns:t' and a bare 'ns_t' must never share a path (the
    // second create would silently truncate the first's files)
    BucketedStore.write(empty, qualified(name),
      s"$path/${qualified(name)}", buckets)
    setProps(spark, name, Seq(
      "graft.families" -> families.mkString(","), "graft.enabled" -> "true"))
  }

  /** All table names, namespaced ones in their `ns:table` form. */
  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_")).filterNot(isSystemTable)
      .map(_.stripPrefix("graft_"))
      .map(t => t.split("__", 2) match {
        case Array(ns, tab) => s"$ns:$tab"
        case _              => t
      }).toSeq

  private def prop(spark: SparkSession, name: String, key: String): Option[String] =
    tblProps(spark, name).get(key)

  def isEnabled(spark: SparkSession, name: String): Boolean =
    prop(spark, name, "graft.enabled").forall(_ == "true")

  def disableTable(spark: SparkSession, name: String): Unit =
    setProps(spark, name, Seq("graft.enabled" -> "false"))

  def enableTable(spark: SparkSession, name: String): Unit =
    setProps(spark, name, Seq("graft.enabled" -> "true"))

  /** Read a table; rejects disabled tables like the reference's
    * `TableNotEnabledException` path. */
  def table(spark: SparkSession, name: String): DataFrame = {
    require(isEnabled(spark, name), s"table $name is disabled")
    spark.table(qualified(name))
  }

  /** Append a mutation batch (Put/Delete cells) to the table store —
    * merge-on-read semantics, reconciliation at scan time (Resolve).
    * Rejected on a disabled table, like the reference's
    * TableNotEnabledException on mutate; rejected (or the table
    * disabled) when a space quota is in violation, like the
    * RegionServer's SpaceViolationPolicyEnforcement gate. */
  def put(spark: SparkSession, name: String, cells: DataFrame,
      user: String = "anonymous"): Unit = {
    // ONE catalog read serves all three gates (SHOW TBLPROPERTIES is a
    // driver round-trip; throttle + space quota + enabled would
    // otherwise pay three on the hot mutation path)
    val props = tblProps(spark, name)
    enforceThrottle(spark, name, System.currentTimeMillis(),
      props = Some(props), user = user)
    enforceSpaceQuota(spark, name, props = Some(props))
    require(props.get("graft.enabled").forall(_ == "true"),
      s"table $name is disabled")
    cells.select(CellSchema.columns.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Append).insertInto(qualified(name))
  }

  /** All table properties in one catalog round-trip (r17-opt: direct
    * catalog lookup — see [[tableMeta]]). */
  private def tblProps(spark: SparkSession, name: String): Map[String, String] =
    tableMeta(spark, name).properties

  // ---- Throttle quotas (the other half of the quotas subsystem:
  // QuotaSettingsFactory.throttleTable, ThrottleType.REQUEST_NUMBER,
  // RpcThrottlingException; RateLimiter.java with its Fixed/Average
  // interval refill strategies). One mutation BATCH = one request in
  // graft's batch model, so the table limiter charges 1 per put — the
  // REQUEST_NUMBER semantic. Limiters are in-JVM per (table, config):
  // a changed quota starts a fresh bucket, removing the quota drops
  // enforcement entirely. ----

  private val limiters = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long, String), RateLimiter]

  def setThrottleQuota(spark: SparkSession, name: String, limit: Long,
      perMs: Long = 1000, refill: String = "AVERAGE"): Unit = {
    require(limit > 0 && perMs > 0, "throttle limit/period must be positive")
    require(refill == "AVERAGE" || refill == "FIXED",
      s"unknown refill strategy '$refill' (AVERAGE/FIXED)")
    setProps(spark, name, Seq("graft.throttle.limit" -> limit.toString,
      "graft.throttle.unit.ms" -> perMs.toString,
      "graft.throttle.refill" -> refill))
  }

  def removeThrottleQuota(spark: SparkSession, name: String): Unit =
    unsetProps(spark, name, Seq("graft.throttle.limit",
      "graft.throttle.unit.ms", "graft.throttle.refill"))

  // ---- User / namespace quota scopes (QuotaSettingsFactory
  // .throttleUser with its table/namespace-qualified variants,
  // .throttleNamespace, .limitNamespaceSpace; stored in the reference's
  // hbase:quota system table keyed `u.<user>` / `t.<table>` /
  // `n.<ns>`). graft's twin registry is a tiny catalog table written
  // with the nsRegistry swap pattern; TABLE-scope quotas stay in
  // TBLPROPERTIES (unchanged surface). Enforcement cascades
  // most-specific-wins, AuthManager-style:
  //   user+table > user+namespace > user > table > namespace
  // (the reference's QuotaCache likewise consults the user's own state
  // first and falls through to table/namespace machine state). ----

  private val QuotaReg = "graft_quotareg"
  private val QuotaRegTmp = QuotaReg + "_swap"

  /** One registry row. `scope` ∈ USER/NAMESPACE; `qualifier` narrows a
    * USER quota to one table (`t:<name>`) or namespace (`n:<ns>`), ""
    * = all the user's requests. `qtype` ∈ THROTTLE/SPACE. `setting`
    * carries the refill strategy (throttle) or violation policy
    * (space); `unitMs` is 0 for space quotas. */
  final case class QuotaEntry(scope: String, subject: String,
      qualifier: String, qtype: String, limit: Long, unitMs: Long,
      setting: String)

  // In-JVM registry cache — the reference's QuotaCache (hbase-server/
  // .../quotas/QuotaCache.java: RegionServers serve every request from
  // a cached snapshot and refresh periodically, they never read
  // hbase:quota per request). graft's writes invalidate the cache
  // in-JVM immediately; cross-JVM configuration changes are picked up
  // via [[refreshQuotaCache]] (the periodic-refresh analogue — config
  // changes propagating lazily is the reference's model too).
  @volatile private var quotaCache: Option[Seq[QuotaEntry]] = None

  /** Drop the cached quota snapshot (QuotaCache refresh analogue) —
    * call after another process has changed quota configuration. */
  def refreshQuotaCache(): Unit = quotaCache = None

  private def quotaRegistry(spark: SparkSession): Seq[QuotaEntry] =
    quotaCache.getOrElse {
      val t =
        if (spark.catalog.tableExists(QuotaReg)) Some(QuotaReg)
        else if (spark.catalog.tableExists(QuotaRegTmp)) Some(QuotaRegTmp)
        else None
      val rows = t.fold(Seq.empty[QuotaEntry])(
        spark.table(_).collect().toSeq.map(r =>
          QuotaEntry(r.getString(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4), r.getLong(5), r.getString(6))))
      quotaCache = Some(rows)
      rows
    }

  private def writeQuotaRegistry(spark: SparkSession,
      rows: Seq[QuotaEntry]): Unit = {
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $QuotaRegTmp")
    clearOrphan(spark, QuotaRegTmp)
    rows.toDF("scope", "subject", "qualifier", "qtype", "limit", "unitMs",
      "setting").write.mode(SaveMode.Overwrite).saveAsTable(QuotaRegTmp)
    spark.sql(s"DROP TABLE IF EXISTS $QuotaReg")
    clearOrphan(spark, QuotaReg)
    spark.sql(s"ALTER TABLE $QuotaRegTmp RENAME TO $QuotaReg")
    quotaCache = Some(rows) // write-through: this JVM sees it at once
  }

  /** Upsert keyed on (scope, subject, qualifier, qtype) — re-setting a
    * quota replaces it (and a replaced config starts a fresh limiter
    * bucket, same contract as the table scope). */
  private def upsertQuota(spark: SparkSession, q: QuotaEntry): Unit =
    upsertQuotas(spark, Seq(q))

  /** Batched upsert — ONE registry rewrite for a whole configuration
    * set (the per-scope setters each pay a swap-write; a config job
    * applying several scopes batches them here). */
  def upsertQuotas(spark: SparkSession, qs: Seq[QuotaEntry]): Unit = {
    qs.foreach { q =>
      require(q.scope == "USER" || q.scope == "NAMESPACE",
        s"registry scopes are USER/NAMESPACE (table scope lives in " +
          s"table properties), got '${q.scope}'")
      q.qtype match {
        case "THROTTLE" =>
          require(q.limit > 0 && q.unitMs > 0,
            "throttle limit/period must be positive")
          requireRefill(q.setting)
        case "SPACE" =>
          require(q.limit > 0, "quota limit must be positive")
          require(QuotaPolicies(q.setting),
            s"unknown violation policy '${q.setting}'")
        case other => throw new IllegalArgumentException(
          s"unknown quota type '$other' (THROTTLE/SPACE)")
      }
    }
    val keys = qs.map(q => (q.scope, q.subject, q.qualifier, q.qtype)).toSet
    require(keys.size == qs.size, "duplicate quota key in batch")
    writeQuotaRegistry(spark, quotaRegistry(spark).filterNot(r =>
      keys((r.scope, r.subject, r.qualifier, r.qtype))) ++ qs)
  }

  private def removeQuota(spark: SparkSession, scope: String,
      subject: String, qualifier: String, qtype: String): Unit =
    removeQuotas(spark, Seq((scope, subject, qualifier, qtype)))

  /** Batched removal — one registry rewrite, dual of [[upsertQuotas]]. */
  def removeQuotas(spark: SparkSession,
      keys: Seq[(String, String, String, String)]): Unit = {
    val ks = keys.toSet
    writeQuotaRegistry(spark, quotaRegistry(spark).filterNot(r =>
      ks((r.scope, r.subject, r.qualifier, r.qtype))))
  }

  private def requireRefill(refill: String): Unit =
    require(refill == "AVERAGE" || refill == "FIXED",
      s"unknown refill strategy '$refill' (AVERAGE/FIXED)")

  private def requireNs(spark: SparkSession, ns: String): Unit =
    require(ns == "default" || nsRegistry(spark).contains(ns),
      s"no such namespace $ns")

  /** QuotaSettingsFactory.throttleUser: caps EVERY request the user
    * makes, narrowable to one table (`table = Some("ns:t")`) or one
    * namespace (`namespace = Some(ns)`) like the reference's
    * user+table / user+namespace variants. */
  def setUserThrottleQuota(spark: SparkSession, user: String, limit: Long,
      perMs: Long = 1000, refill: String = "AVERAGE",
      table: Option[String] = None, namespace: Option[String] = None): Unit = {
    require(limit > 0 && perMs > 0, "throttle limit/period must be positive")
    requireRefill(refill)
    require(table.isEmpty || namespace.isEmpty,
      "a user quota narrows to a table OR a namespace, not both")
    table.foreach(qualified(_)) // validate the name charset
    namespace.foreach(requireNs(spark, _))
    val qual = table.map("t:" + _).orElse(namespace.map("n:" + _)).getOrElse("")
    upsertQuota(spark,
      QuotaEntry("USER", user, qual, "THROTTLE", limit, perMs, refill))
  }

  def removeUserThrottleQuota(spark: SparkSession, user: String,
      table: Option[String] = None, namespace: Option[String] = None): Unit =
    removeQuota(spark, "USER", user,
      table.map("t:" + _).orElse(namespace.map("n:" + _)).getOrElse(""),
      "THROTTLE")

  /** QuotaSettingsFactory.throttleNamespace: one shared bucket for all
    * requests against the namespace's tables. */
  def setNamespaceThrottleQuota(spark: SparkSession, ns: String, limit: Long,
      perMs: Long = 1000, refill: String = "AVERAGE"): Unit = {
    require(limit > 0 && perMs > 0, "throttle limit/period must be positive")
    requireRefill(refill)
    requireNs(spark, ns)
    upsertQuota(spark,
      QuotaEntry("NAMESPACE", ns, "", "THROTTLE", limit, perMs, refill))
  }

  def removeNamespaceThrottleQuota(spark: SparkSession, ns: String): Unit =
    removeQuota(spark, "NAMESPACE", ns, "", "THROTTLE")

  /** QuotaSettingsFactory.limitNamespaceSpace: byte budget over the SUM
    * of the namespace's table stores. */
  def setNamespaceSpaceQuota(spark: SparkSession, ns: String,
      limitBytes: Long, policy: String = "NO_INSERTS"): Unit = {
    require(limitBytes > 0, "quota limit must be positive")
    require(QuotaPolicies(policy),
      s"unknown violation policy '$policy' (${QuotaPolicies.mkString("/")})")
    requireNs(spark, ns)
    upsertQuota(spark,
      QuotaEntry("NAMESPACE", ns, "", "SPACE", limitBytes, 0L, policy))
  }

  def removeNamespaceSpaceQuota(spark: SparkSession, ns: String): Unit =
    removeQuota(spark, "NAMESPACE", ns, "", "SPACE")

  /** Every configured quota, all scopes — the QuotaRetriever twin.
    * Registry scopes come from the catalog table; TABLE scopes are
    * gathered from each table's properties (driver round-trips — an
    * admin listing, not a hot path). */
  def listQuotas(spark: SparkSession): Seq[QuotaEntry] = {
    val tableScoped = listTables(spark).flatMap { n =>
      val m = tblProps(spark, n)
      val thr = m.get("graft.throttle.limit").map(l =>
        QuotaEntry("TABLE", n, "", "THROTTLE", l.toLong,
          m.get("graft.throttle.unit.ms").map(_.toLong).getOrElse(1000L),
          m.getOrElse("graft.throttle.refill", "AVERAGE")))
      val sp = m.get("graft.quota.bytes").map(b =>
        QuotaEntry("TABLE", n, "", "SPACE", b.toLong, 0L,
          m.getOrElse("graft.quota.policy", "NO_INSERTS")))
      thr.toSeq ++ sp.toSeq
    }
    (quotaRegistry(spark) ++ tableScoped)
      .sortBy(q => (q.scope, q.subject, q.qualifier, q.qtype))
  }

  private def nsOf(name: String): String =
    name.split(":", 2) match {
      case Array(n, _) => n
      case _           => "default"
    }

  /** Most-specific-wins pick over the throttle cascade. */
  private def pickThrottle(spark: SparkSession, name: String, user: String,
      props: Map[String, String]): Option[QuotaEntry] = {
    val ns = nsOf(name)
    val reg = quotaRegistry(spark).filter(_.qtype == "THROTTLE")
    def userQ(qual: String) = reg.find(r =>
      r.scope == "USER" && r.subject == user && r.qualifier == qual)
    val tableQ = props.get("graft.throttle.limit").map(l =>
      QuotaEntry("TABLE", name, "", "THROTTLE", l.toLong,
        props.get("graft.throttle.unit.ms").map(_.toLong).getOrElse(1000L),
        props.getOrElse("graft.throttle.refill", "AVERAGE")))
    userQ(s"t:$name")
      .orElse(userQ(s"n:$ns"))
      .orElse(userQ(""))
      .orElse(tableQ)
      .orElse(reg.find(r => r.scope == "NAMESPACE" && r.subject == ns))
  }

  private def limiterFor(q: QuotaEntry): RateLimiter =
    limiters.getOrElseUpdate(
      (s"${q.scope}.${q.subject}.${q.qualifier}", q.limit, q.unitMs,
        q.setting),
      new RateLimiter(q.limit, q.unitMs, q.setting == "FIXED"))

  /** One request through the full cascade — the audit/debug surface
    * (admitted requests consume from the picked limiter exactly like
    * enforcement, so probed sequences replay real behavior). Returns
    * (scope, subject, admitted, retryAfterMs); ("NONE", "", true, 0)
    * when no quota applies. */
  def throttleProbe(spark: SparkSession, name: String, user: String,
      nowMs: Long, amount: Long = 1): (String, String, Boolean, Long) =
    pickThrottle(spark, name, user, tblProps(spark, name)) match {
      case None => ("NONE", "", true, 0L)
      case Some(q) =>
        val lim = limiterFor(q)
        lim.synchronized {
          if (lim.canExecute(nowMs, amount)) {
            lim.consume(amount)
            (q.scope, q.subject, true, 0L)
          } else (q.scope, q.subject, false, lim.waitInterval(nowMs, amount))
        }
    }

  /** Replay a deterministic request schedule through the throttle
    * cascade FROM A CLEAN SLATE — the enforcement audit surface (the
    * declared query q82 reports these counts). `schedule` rows are
    * (user, table, nRequests); groups replay in the given order,
    * every request at the same injected instant, against FRESH
    * limiter buckets local to this call (a what-if replay — the live
    * gate's shared buckets in [[limiters]] are untouched, so the
    * audit is rerun-deterministic). Returns one row per group:
    * (user, table, scopeLabel, nRequests, nAdmitted, nRejected) with
    * scopeLabel ∈ USER_TABLE/USER_NS/USER/TABLE/NAMESPACE/NONE. */
  def throttleAudit(spark: SparkSession,
      schedule: Seq[(String, String, Long)], nowMs: Long)
      : Seq[(String, String, String, Long, Long, Long)] = {
    val local = scala.collection.mutable.Map
      .empty[(String, String, String), RateLimiter]
    schedule.map { case (user, name, n) =>
      pickThrottle(spark, name, user, tblProps(spark, name)) match {
        case None => (user, name, "NONE", n, n, 0L)
        case Some(q) =>
          val label = q.scope match {
            case "USER" if q.qualifier.startsWith("t:") => "USER_TABLE"
            case "USER" if q.qualifier.startsWith("n:") => "USER_NS"
            case s                                      => s
          }
          val lim = local.getOrElseUpdate(
            (q.scope, q.subject, q.qualifier),
            new RateLimiter(q.limit, q.unitMs, q.setting == "FIXED"))
          var adm = 0L
          var i = 0L
          while (i < n) {
            if (lim.canExecute(nowMs, 1)) { lim.consume(1); adm += 1 }
            i += 1
          }
          (user, name, label, n, adm, n - adm)
      }
    }
  }

  /** Request-throttle gate on the mutation path (`nowMs` injected for
    * determinism; `put` passes the wall clock). Over the limit →
    * the RpcThrottlingException twin, carrying the limiter's
    * waitInterval like the reference's retry-after payload. The
    * cascade picks ONE limiter per request (most-specific-wins). */
  private[graft] def enforceThrottle(spark: SparkSession, name: String,
      nowMs: Long, amount: Long = 1,
      props: Option[Map[String, String]] = None,
      user: String = "anonymous"): Unit =
    pickThrottle(spark, name, user, props.getOrElse(tblProps(spark, name)))
      .foreach { q =>
        val lim = limiterFor(q)
        lim.synchronized {
          if (!lim.canExecute(nowMs, amount))
            throw new IllegalStateException(
              s"request throttle [${q.scope} ${q.subject}" +
                s"${if (q.qualifier.nonEmpty) " " + q.qualifier else ""}] " +
                s"on $name: ${q.limit}/${q.unitMs}ms exceeded, " +
                s"retry in ${lim.waitInterval(nowMs, amount)} ms")
          lim.consume(amount)
        }
      }

  // ---- Space quotas (the hbase quotas subsystem:
  // QuotaSettingsFactory.limitTableSpace, SpaceViolationPolicy.java,
  // SpaceQuotaSnapshot.java; enforced on the RegionServer write path
  // by SpaceViolationPolicyEnforcement). Usage is the store's
  // filesystem size — the RegionMetrics store-file-size analogue the
  // reference's quota observer sums. Enforcement is checked at put
  // time against CURRENT usage (the reference's enforcement is
  // likewise asynchronous-usage-based: the batch that crosses the
  // line is admitted; the next one is not). ----

  private val QuotaPolicies =
    Set("NO_INSERTS", "NO_WRITES", "NO_WRITES_COMPACTIONS", "DISABLE")

  def setSpaceQuota(spark: SparkSession, name: String, limitBytes: Long,
      policy: String = "NO_INSERTS"): Unit = {
    require(limitBytes > 0, "quota limit must be positive")
    require(QuotaPolicies(policy),
      s"unknown violation policy '$policy' (${QuotaPolicies.mkString("/")})")
    setProps(spark, name, Seq("graft.quota.bytes" -> limitBytes.toString,
      "graft.quota.policy" -> policy))
  }

  def removeSpaceQuota(spark: SparkSession, name: String): Unit =
    unsetProps(spark, name, Seq("graft.quota.bytes", "graft.quota.policy"))

  /** Both quota properties in ONE catalog read (SHOW TBLPROPERTIES is
    * a driver round-trip; the quota paths would otherwise pay 2-3). */
  private def quotaProps(spark: SparkSession, name: String,
      props: Option[Map[String, String]] = None)
      : (Option[Long], Option[String]) = {
    val m = props.getOrElse(tblProps(spark, name))
    (m.get("graft.quota.bytes").map(_.toLong), m.get("graft.quota.policy"))
  }

  /** (usageBytes, limitBytes, policy, inViolation) — the
    * SpaceQuotaSnapshot view; limit/policy are None with no quota. */
  def spaceQuotaSnapshot(spark: SparkSession, name: String)
      : (Long, Option[Long], Option[String], Boolean) = {
    val (loc, _) = layoutOf(spark, name)
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val usage = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    val (limit, policy) = quotaProps(spark, name)
    (usage, limit, policy, limit.exists(usage > _))
  }

  private def storeUsage(spark: SparkSession, name: String): Long = {
    val (loc, _) = layoutOf(spark, name)
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** (usageBytes, limitBytes, policy, inViolation) for a NAMESPACE
    * space quota — usage is the sum over the namespace's tables, the
    * reference's QuotaObserverChore roll-up. limit/policy None with no
    * quota configured. */
  def namespaceQuotaSnapshot(spark: SparkSession, ns: String)
      : (Long, Option[Long], Option[String], Boolean) = {
    val usage = listTableNamesByNamespace(spark, ns)
      .map(storeUsage(spark, _)).sum
    val q = quotaRegistry(spark).find(r =>
      r.scope == "NAMESPACE" && r.subject == ns && r.qtype == "SPACE")
    (usage, q.map(_.limit), q.map(_.setting), q.exists(usage > _.limit))
  }

  /** Write-path quota gate: in violation, DISABLE disables the table
    * (the policy's defining action — reads then fail too, as in the
    * reference); the NO_* policies reject the write with the
    * SpaceLimitingException twin. Cascade is most-specific-wins: a
    * TABLE quota governs alone when set, else the table's NAMESPACE
    * quota (usage = sum over the namespace's stores) applies. */
  private def enforceSpaceQuota(spark: SparkSession, name: String,
      props: Option[Map[String, String]] = None): Unit = {
    def violate(scope: String, usage: Long, limit: Long,
        policy: String): Unit = policy match {
      case "DISABLE" =>
        disableTable(spark, name)
        throw new IllegalStateException(
          s"space quota violation [$scope] on $name " +
            s"(usage $usage > limit $limit): policy DISABLE — table disabled")
      case p =>
        throw new IllegalStateException(
          s"space quota violation [$scope] on $name " +
            s"(usage $usage > limit $limit): policy $p rejects writes")
    }
    // no quota configured → no filesystem walk: the common put path
    // pays one catalog read, not a table-sized content summary
    val (limitOpt, policyOpt) = quotaProps(spark, name, props)
    if (limitOpt.isDefined) {
      val usage = storeUsage(spark, name)
      if (usage > limitOpt.get)
        violate("TABLE", usage, limitOpt.get, policyOpt.getOrElse("NO_INSERTS"))
    } else {
      val ns = nsOf(name)
      quotaRegistry(spark).find(r =>
        r.scope == "NAMESPACE" && r.subject == ns && r.qtype == "SPACE")
        .foreach { q =>
          val usage = listTableNamesByNamespace(spark, ns)
            .map(storeUsage(spark, _)).sum
          if (usage > q.limit) violate("NAMESPACE", usage, q.limit, q.setting)
        }
    }
  }

  /** Point-in-time snapshot: immutable copy of the current store.
    * Deliberately allowed on DISABLED tables too — the reference
    * supports offline snapshots (SnapshotType of a disabled table).
    * `ttlSeconds` is the snapshot TTL (HBASE-22648 — the descriptor's
    * TTL field; 0 = never expires), recorded in a hidden
    * `.snapshotinfo` marker Spark's parquet reader ignores. */
  def snapshot(spark: SparkSession, name: String, snapName: String,
      path: String, ttlSeconds: Long = 0L,
      creationTime: Long = System.currentTimeMillis()): Unit = {
    spark.table(qualified(name)).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$path/$snapName")
    val p = new org.apache.hadoop.fs.Path(s"$path/$snapName/.snapshotinfo")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"created=$creationTime;ttl=$ttlSeconds".getBytes("UTF-8"))
    finally out.close()
  }

  /** SnapshotManager's expiry rule (SnapshotDescriptionUtils
    * .isExpiredSnapshot): expired iff a REAL creation time and a REAL
    * bounded TTL exist and creation + ttl seconds has passed. The
    * bound is MaxValue/1000 exactly as in the reference — a larger TTL
    * would overflow the millis product and wrap negative, turning a
    * never-expires snapshot into an always-expired one. */
  def isExpiredSnapshot(ttlSeconds: Long, creationTime: Long,
      now: Long): Boolean =
    creationTime > 0 && ttlSeconds > 0 &&
      ttlSeconds < Long.MaxValue / 1000L &&
      creationTime + ttlSeconds * 1000L < now

  /** Admin.listSnapshots analogue over a snapshot directory: (name,
    * creationTime, ttlSeconds); snapshots predating the TTL feature
    * (no marker) report (0, 0) — never expired, like the reference's
    * defaulted descriptor fields. */
  def listSnapshots(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).filter(_.isDirectory).map { st =>
      val info = new org.apache.hadoop.fs.Path(st.getPath, ".snapshotinfo")
      val (created, ttl) =
        if (!fs.exists(info)) (0L, 0L)
        else {
          val in = fs.open(info)
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          // a corrupt/truncated marker degrades to (0, 0) — never
          // expires, same as the no-marker path; one bad marker must
          // not abort the listing and stall every cleanup pass
          val kv = txt.split(";").flatMap(_.split("=", 2) match {
            case Array(k, v) => v.toLongOption.map(k -> _)
            case _ => None
          }).toMap
          (kv.getOrElse("created", 0L), kv.getOrElse("ttl", 0L))
        }
      (st.getPath.getName, created, ttl)
    }.toSeq.sortBy(_._1)
  }

  /** The SnapshotCleanerChore (HBASE-22648): drop every expired
    * snapshot under `path`. Returns the deleted names. */
  def cleanupSnapshots(spark: SparkSession, path: String,
      now: Long = System.currentTimeMillis()): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listSnapshots(spark, path).collect {
      case (name, created, ttl) if isExpiredSnapshot(ttl, created, now) =>
        fs.delete(new org.apache.hadoop.fs.Path(p, name), true)
        name
    }
  }

  /** Clone a snapshot into a new (bucketed) table — crash-safe via the
    * shared procedure journal ([[graft.flow.ProcedureJournal]]; the
    * reference's CloneSnapshotProcedure persists its step state the
    * same way): the journal lands in `<path>/.procedures/` BEFORE the
    * first byte of the new table, and is consumed only after the
    * catalog commit. A crash anywhere between leaves the journal for
    * [[recoverInterruptedDdl]], which rolls the half-clone back
    * (drops the partial table + its files — the reference's
    * rollbackState deletes the new table's regions; the snapshot
    * source is never touched, so a retry is always clean). */
  def cloneSnapshot(spark: SparkSession, snapPath: String, newName: String,
      path: String, buckets: Int = 16): Unit =
    cloneSnapshotImpl(spark, snapPath, newName, path, buckets,
      crashMidClone = false)

  /** Injected-crash twin of [[cloneSnapshot]]: dies after the journal
    * and a partial store artifact, before the catalog commit. */
  private[graft] def cloneSnapshotImpl(spark: SparkSession,
      snapPath: String, newName: String, path: String, buckets: Int,
      crashMidClone: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    val q = qualified(newName)
    val loc = s"$path/$q"
    val conf = spark.sparkContext.hadoopConfiguration
    val procDir = new Path(path, ".procedures")
    val fs = procDir.getFileSystem(conf)
    fs.mkdirs(procDir)
    val journal = new Path(procDir, s"clone-$q.journal")
    graft.flow.ProcedureJournal.write(conf, journal,
      Seq(newName, loc), s"clone journal for $newName")
    if (crashMidClone) {
      fs.mkdirs(new Path(loc))
      fs.create(new Path(loc, "part-00000-dead-attempt.parquet"), true)
        .close()
      throw new IllegalStateException(
        s"injected crash: clone $newName mid-write")
    }
    BucketedStore.write(spark.read.schema(CellSchema.schema).parquet(snapPath),
      q, loc, buckets)
    graft.flow.ProcedureJournal.consume(fs, journal)
  }

  /** Admin.restoreSnapshot — rewrite a DISABLED table's contents to a
    * snapshot's cells (the reference refuses restore on enabled
    * tables and, with hbase.snapshot.restore.take.failsafe.snapshot,
    * protects the pre-restore contents behind a FAILSAFE snapshot;
    * RestoreSnapshotProcedure). Protocol: journal → failsafe copy of
    * the current contents → rewrite → drop failsafe, consume journal.
    * A crash at any point leaves either an untouched table (failsafe
    * incomplete — the rewrite never started) or a journal + durable
    * failsafe for [[recoverInterruptedDdl]] to re-impose. */
  def restoreSnapshot(spark: SparkSession, name: String, snapPath: String,
      failsafeDir: String): Unit =
    restoreSnapshotImpl(spark, name, snapPath, failsafeDir,
      crashAfterRewrite = false)

  /** Injected-crash twin of [[restoreSnapshot]]: dies after the
    * rewrite landed but before the failsafe/journal cleanup — the
    * recovery sweep must re-impose the PRE-restore contents. */
  private[graft] def restoreSnapshotImpl(spark: SparkSession, name: String,
      snapPath: String, failsafeDir: String,
      crashAfterRewrite: Boolean): Unit = {
    require(!isEnabled(spark, name),
      s"table $name must be disabled before restore (reference semantics)")
    journaledRewrite(spark, name, failsafeDir, s"restore from $snapPath",
      _ => spark.read.schema(CellSchema.schema).parquet(snapPath),
      crashAfterRewrite = crashAfterRewrite)
  }

  /** The shared crash-safe contents rewrite — the failsafe protocol
    * every destructive rewriteTable caller (restore, truncate,
    * deleteFamily) runs through when a `failsafeDir` is supplied:
    * journal → failsafe copy of the CURRENT contents → rewrite → drop
    * failsafe, consume journal. A crash anywhere leaves either an
    * untouched table (failsafe incomplete — the rewrite never started)
    * or a journal + durable failsafe for [[recoverInterruptedDdl]] to
    * re-impose — the table comes back as its pre-op contents and the
    * operator retries. (The reference makes these procedure-v2
    * resumable — TruncateTableProcedure/ModifyTableProcedure; the
    * failsafe form trades one extra copy for the same no-data-loss
    * guarantee on a filesystem with nothing but atomic renames.) */
  private def journaledRewrite(spark: SparkSession, name: String,
      failsafeDir: String, what: String,
      transform: DataFrame => DataFrame,
      newBuckets: Int => Int = identity,
      crashAfterRewrite: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    val q = qualified(name)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(failsafeDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val (loc, buckets) = layoutOf(spark, name)
    val journal = new Path(dir, s"restore-$q.journal")
    graft.flow.ProcedureJournal.write(conf, journal,
      Seq(name, what, loc, buckets.toString),
      s"rewrite journal for $name ($what)")
    // failsafe BEFORE the first destructive step; ErrorIfExists — a
    // leftover failsafe means an unswept earlier crash, refuse
    spark.table(q).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$failsafeDir/failsafe-$q")
    rewriteTable(spark, name, transform, newBuckets)
    if (crashAfterRewrite)
      throw new IllegalStateException(
        s"injected crash: $what of $name after rewrite")
    fs.delete(new Path(s"$failsafeDir/failsafe-$q"), true)
    graft.flow.ProcedureJournal.consume(fs, journal)
  }

  /** Master-restart sweep over interrupted multi-step DDL — the
    * ProcedureExecutor-recovery twin for GAdmin's procedures, same
    * decision shape as [[graft.flow.RegionRefs.recoverInterruptedSplits]]:
    *
    *  - `clone-<q>.journal` in `<path>/.procedures/`: the clone never
    *    committed (the journal is consumed last) — roll BACK: drop the
    *    partial catalog entry and its files. Derivable recovery: a
    *    corrupt journal still names the table in its filename.
    *  - `restore-<q>.journal` in `failsafeDir`: if the failsafe copy
    *    is durable (its _SUCCESS marker landed), the table may be
    *    half-rewritten — roll BACK by re-imposing the failsafe
    *    contents (catalog-less recovery falls back to the journal's
    *    recorded location/buckets); an incomplete failsafe means the
    *    rewrite never started — the table is untouched, drop the
    *    partial failsafe. Either way the journal is consumed last.
    *
    * Returns (subject, action) pairs, name order. PRECONDITION: no
    * DDL in flight on `path`/`failsafeDir` (the procedure-store lock). */
  def recoverInterruptedDdl(spark: SparkSession, path: String,
      failsafeDir: String = ""): Seq[(String, String)] = {
    import org.apache.hadoop.fs.Path
    import graft.flow.ProcedureJournal
    val conf = spark.sparkContext.hadoopConfiguration
    val procDir = new Path(path, ".procedures")
    val fs = procDir.getFileSystem(conf)
    val clones =
      if (!fs.exists(procDir)) Nil
      else fs.listStatus(procDir).map(_.getPath)
        .filter(p => p.getName.startsWith("clone-") &&
          p.getName.endsWith(".journal"))
        .sortBy(_.getName).toSeq.map { j =>
          val q = j.getName.stripPrefix("clone-").stripSuffix(".journal")
          val loc = ProcedureJournal.readTolerant(fs, j, 2)
            .map(_(1)).getOrElse(s"$path/$q") // derivable: the layout
          spark.sql(s"DROP TABLE IF EXISTS $q")
          fs.delete(new Path(loc), true)
          ProcedureJournal.consume(fs, j)
          q -> "rolledback"
        }
    val restores =
      if (failsafeDir.isEmpty) Nil
      else {
        val dir = new Path(failsafeDir)
        val ffs = dir.getFileSystem(conf)
        if (!ffs.exists(dir)) Nil
        else ffs.listStatus(dir).map(_.getPath)
          .filter(p => p.getName.startsWith("restore-") &&
            p.getName.endsWith(".journal"))
          .sortBy(_.getName).toSeq.map { j =>
            val q = j.getName.stripPrefix("restore-").stripSuffix(".journal")
            val failsafe = new Path(dir, s"failsafe-$q")
            val parts = ProcedureJournal.readTolerant(ffs, j, 4)
            val action =
              if (ffs.exists(new Path(failsafe, "_SUCCESS"))) {
                val pre = spark.read.schema(CellSchema.schema)
                  .parquet(failsafe.toString)
                parts match {
                  case Some(Array(name, _, _, _))
                      if tableExists(spark, name) =>
                    rewriteTable(spark, name, _ => pre)
                  case Some(Array(_, _, loc, b)) =>
                    // catalog lost mid-rewrite: rebuild from the
                    // journal's recorded layout (cells exact; dynamic
                    // table properties reset — the reference's restore
                    // likewise re-derives the descriptor)
                    BucketedStore.write(pre, q, loc, b.toInt)
                  case None => sys.error(
                    s"restore journal $j corrupt AND failsafe present " +
                      "— refusing to guess the target table")
                }
                ffs.delete(failsafe, true)
                "rolledback"
              } else {
                // rewrite never started; the partial failsafe is the
                // only residue
                ffs.delete(failsafe, true)
                "untouched"
              }
            ProcedureJournal.consume(ffs, j)
            q -> action
          }
      }
    clones ++ restores
  }

  def deleteTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${qualified(name)}")

  /** Contents rewrite shared by truncate/deleteFamily: materialize the
    * transformed cell set OFF the table's files (localCheckpoint) so
    * the overwrite does not read what it truncates, then re-write the
    * bucketed table at its own location and restore the graft table
    * properties (saveAsTable recreates the catalog entry). This is the
    * analogue of the reference rewriting store files (truncate
    * recreates regions empty; deleteColumnFamily drops the family's
    * stores) — a heavyweight admin op by construction. */
  /** The table's catalog entry via the session catalog directly —
    * r17-opt: `DESCRIBE FORMATTED` / `SHOW TBLPROPERTIES` through
    * `spark.sql` pay a full parse/analyze/execute/collect round-trip
    * per call, and the admin lifecycles (q127's 8 rewrites, every
    * put's quota gate) string dozens of them; the catalog lookup is
    * the same metadata without the SQL layer. */
  private def tableMeta(spark: SparkSession, name: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(qualified(name)))

  /** Direct-catalog SET TBLPROPERTIES — [[tableMeta]]'s write-side
    * twin (r18-opt): one catalog read + one alterTable, skipping the
    * SQL parse/analyze round-trip the admin hot paths (enable/disable,
    * quotas, post-rewrite props restore) otherwise pay per call. Same
    * merge semantics and the same checks as the SQL path: a VIEW entry
    * is rejected (`ALTER TABLE` on a view), and so are the keys the SQL
    * parser reserves ([[alterableMeta]]). */
  private[graft] def setProps(spark: SparkSession, name: String,
      kv: Seq[(String, String)]): Unit = {
    val m = alterableMeta(spark, name, kv.map(_._1))
    spark.sessionState.catalog.alterTable(
      m.copy(properties = m.properties ++ kv))
  }

  /** Direct-catalog UNSET TBLPROPERTIES IF EXISTS (absent keys are
    * ignored, like the IF EXISTS form); checked like [[setProps]]. */
  private[graft] def unsetProps(spark: SparkSession, name: String,
      keys: Seq[String]): Unit = {
    val m = alterableMeta(spark, name, keys)
    spark.sessionState.catalog.alterTable(
      m.copy(properties = m.properties -- keys))
  }

  /** `name`'s catalog entry, for a write of `keys`: refuses a VIEW and
    * the keys `ALTER TABLE … SET/UNSET TBLPROPERTIES` refuses to parse
    * (case-sensitively; `comment` it accepts and handles itself). */
  private def alterableMeta(spark: SparkSession, name: String, keys: Seq[String]) = {
    import org.apache.spark.sql.connector.catalog.TableCatalog._
    keys.find(Set(PROP_PROVIDER, PROP_LOCATION, PROP_OWNER, PROP_EXTERNAL,
        PROP_IS_MANAGED_LOCATION)).foreach(k =>
      throw new IllegalArgumentException(s"table property '$k' is reserved"))
    val m = tableMeta(spark, name)
    DDLUtils.verifyAlterTableType(spark.sessionState.catalog, m, isView = false)
    m
  }

  /** (location, bucket count) of a graft table's store, from the
    * catalog entry. */
  private def layoutOf(spark: SparkSession, name: String): (String, Int) = {
    val m = tableMeta(spark, name)
    (m.storage.locationUri.map(_.toString)
        .getOrElse(sys.error(s"no location recorded for $name")),
      m.bucketSpec.map(_.numBuckets).getOrElse(16))
  }

  /** `newBuckets` maps the CURRENT bucket count to the rewrite's —
    * one catalog read serves both the decision and the write (split/
    * merge would otherwise DESCRIBE the table twice per call). */
  private def rewriteTable(spark: SparkSession, name: String,
      transform: DataFrame => DataFrame,
      newBuckets: Int => Int = identity): Unit = {
    val q = qualified(name)
    // one catalog lookup serves the properties AND the layout
    val m = tableMeta(spark, name)
    val props = m.properties.toSeq.filter(_._1.startsWith("graft."))
    val loc = m.storage.locationUri.map(_.toString)
      .getOrElse(sys.error(s"no location recorded for $name"))
    val buckets = m.bucketSpec.map(_.numBuckets).getOrElse(16)
    val snapshot = transform(spark.table(q)).localCheckpoint()
    BucketedStore.write(snapshot, q, loc, newBuckets(buckets))
    if (props.nonEmpty) setProps(spark, name, props)
  }

  /** Admin.tableExists — catalog membership. */
  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(qualified(name))

  /** Admin.truncateTable: drop all cells, keep the table + properties.
    * Requires the table DISABLED first, as the reference does. A
    * non-empty `failsafeDir` makes the rewrite crash-safe through the
    * shared [[journaledRewrite]] protocol (TruncateTableProcedure's
    * resumability; a crashed run rolls back to the pre-truncate
    * contents via [[recoverInterruptedDdl]]). */
  def truncateTable(spark: SparkSession, name: String,
      failsafeDir: String = ""): Unit = {
    require(!isEnabled(spark, name),
      s"table $name must be disabled before truncate (reference semantics)")
    if (failsafeDir.isEmpty) rewriteTable(spark, name, _.limit(0))
    else journaledRewrite(spark, name, failsafeDir, "truncate", _.limit(0))
  }

  /** Injected-crash twin of the failsafe [[truncateTable]]. */
  private[graft] def truncateTableImpl(spark: SparkSession, name: String,
      failsafeDir: String, crashAfterRewrite: Boolean): Unit = {
    require(!isEnabled(spark, name),
      s"table $name must be disabled before truncate (reference semantics)")
    journaledRewrite(spark, name, failsafeDir, "truncate", _.limit(0),
      crashAfterRewrite = crashAfterRewrite)
  }

  /** Admin.modifyTable family list (ColumnFamilyDescriptor set):
    * families are schema metadata here (the cell schema is universal),
    * so addition is a property update; removal also drops the family's
    * cells, as the reference's deleteColumnFamily does. */
  def listFamilies(spark: SparkSession, name: String): Seq[String] =
    prop(spark, name, "graft.families").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  def addFamily(spark: SparkSession, name: String, family: String): Unit = {
    require(family.matches("[A-Za-z0-9_]+"),
      s"illegal family name '$family': only [A-Za-z0-9_] allowed")
    val fams = (listFamilies(spark, name) :+ family).distinct
    setProps(spark, name, Seq("graft.families" -> fams.mkString(",")))
  }

  /** A non-empty `failsafeDir` makes the family-drop rewrite
    * crash-safe (see [[truncateTable]]; ModifyTableProcedure). */
  def deleteFamily(spark: SparkSession, name: String, family: String,
      failsafeDir: String = ""): Unit = {
    val fams = listFamilies(spark, name).filterNot(_ == family)
    val drop = (df: DataFrame) =>
      df.filter(org.apache.spark.sql.functions.col("family") =!= family)
    if (failsafeDir.isEmpty) rewriteTable(spark, name, drop)
    else journaledRewrite(spark, name, failsafeDir,
      s"deleteFamily $family", drop)
    setProps(spark, name, Seq("graft.families" -> fams.mkString(",")))
  }

  /** Region count of a table — its bucket count (a graft "region" is
    * a bucket of the bucketed store; RegionLocator.getAllRegionLocations
    * size analogue). */
  def regionCount(spark: SparkSession, name: String): Int =
    layoutOf(spark, name)._2

  /** RegionLocator.getRegionLocation twin: the bucket ("region") a row
    * key lands in — `pmod(hash(row), buckets)` with Spark's Murmur3
    * (seed 42), i.e. EXACTLY the placement the store's file names carry
    * (q80's audit) and the read path prunes by. Client-side math plus
    * one catalog read; no data touched, no job run. */
  def locateRow(spark: SparkSession, name: String, row: String): Int = {
    val (_, n) = layoutOf(spark, name)
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(row))), 42)
      .eval(null).asInstanceOf[Int]
    math.floorMod(h, n)
  }

  /** Admin.splitRegionAsync analogue at the layout level: double the
    * region (bucket) count. The reference's split rewrites the parent
    * region's store files into two daughters
    * (MasterRpcServices.splitRegion → SplitTableRegionProcedure); the
    * bucketed-store rewrite is the same store-file rewrite, applied
    * table-wide. */
  def splitRegions(spark: SparkSession, name: String): Unit =
    rewriteTable(spark, name, identity, _ * 2)

  /** Admin.mergeRegionsAsync analogue: halve the region (bucket)
    * count (MergeTableRegionsProcedure's store-file merge). */
  def mergeRegions(spark: SparkSession, name: String): Unit =
    rewriteTable(spark, name, identity, b => math.max(1, b / 2))

  /** SimpleRegionNormalizer analogue (hbase-server/.../normalizer/
    * SimpleRegionNormalizer.java: split regions over 2× the table
    * average, merge adjacent regions under half of it): compute the
    * bucket count that brings the mean bucket size to `targetBytes`,
    * and rewrite ONLY when the current layout is off by ≥2× in either
    * direction (the normalizer's own hysteresis — a near-target layout
    * is not churned). Returns the resulting region count. Store size
    * is read from the filesystem, the analogue of RegionMetrics
    * store-file sizes. */
  def normalize(spark: SparkSession, name: String,
      targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (loc, cur) = layoutOf(spark, name)
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    val ideal = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      .min(Int.MaxValue.toLong).toInt
    if (ideal >= cur * 2 || ideal.toLong * 2 <= cur) {
      rewriteTable(spark, name, identity, _ => ideal)
      ideal
    } else cur
  }

  /** RegionLocator.getStartKeys analogue: n-quantile split points of
    * the live row-key space (what HFileOutputFormat2 feeds its
    * TotalOrderPartitioner) — drives repartitionByRange bulk loads
    * aligned to the current key distribution. Deterministic hash-order
    * pseudo-sample of ≤100k keys, quantiles on the sorted sample (the
    * reference's RegionSplitter samples the same way). */
  def splitPoints(spark: SparkSession, name: String, n: Int): Seq[String] = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    require(n >= 1, "need at least one region")
    if (n == 1) return Nil
    val sample = spark.table(qualified(name)).select("row")
      .orderBy(xxhash64(col("row"))).limit(100000)
      .collect().map(_.getString(0)).sorted
    if (sample.isEmpty) Nil
    else (1 until n)
      .map(i => sample(((i.toLong * sample.length) / n).toInt.min(sample.length - 1)))
      .distinct
  }

  // ---- Flat-store region maintenance: the q99/q100 representation
  // (one directory = one region's HFile store) unified under the
  // Admin surface, so split/merge/normalize all drive through ONE
  // facade whichever store layout backs the table. ----

  /** Admin.splitRegionAsync over a flat HFile store region. WHERE is
    * delegated to [[graft.flow.SplitPolicies.storeSplitPoint]] — the
    * largest file's index mid-key row (HStore.getSplitPoint), shaped
    * by a KeyPrefix adjust when `prefixLength` > 0. The daughters
    * MATERIALIZE under `bottomDir`/`topDir` via the half-read export
    * (HalfStoreFileReader semantics: bottom = rows strictly below the
    * split row; rewriting immediately is the daughters' first
    * compaction, which is also what retires Reference files in the
    * reference). For the reference's ACTUAL instant-split lifecycle —
    * metadata-only Reference files, read-through daughters, deferred
    * materialization, CatalogJanitor parent GC — use
    * [[graft.flow.RegionRefs]] (q113). Returns the split row, or None
    * when every candidate file is mid-key degenerate (a split would
    * orphan a daughter). */
  def splitRegionStore(spark: SparkSession, dir: String,
      bottomDir: String, topDir: String, prefixLength: Int = 0,
      blockSize: Int = 65536): Option[String] = {
    import graft.flow.{HFiles, SplitPolicies}
    SplitPolicies.storeSplitPoint(spark, dir).map { mid =>
      val row = SplitPolicies.keyPrefixAdjust(mid, prefixLength)
      val (bottom, top) = SplitPolicies.daughters(spark, dir, row)
      // the two daughter landings are independent single-writer jobs
      // over disjoint halves — SUBMIT concurrently (r17-opt, the c08
      // concurrent-legs shape) so the halves overlap instead of
      // serializing two read-throughs of the parent
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val legs = Seq(bottomDir -> bottom, topDir -> top).map {
        case (out, half) => Future {
          HFiles.export(half, numRegions = 1, outPath = out,
            blockSize = blockSize)
        }
      }
      // await BOTH legs before returning or throwing (advisor r17): an
      // early throw from leg 1 must not leave leg 2 running unsupervised
      // — a retry of the split would race the orphan over topDir
      val outcomes = legs.map(l =>
        scala.util.Try(Await.result(l, scala.concurrent.duration.Duration.Inf)))
      outcomes.foreach(_.get)
      new String(row, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** Admin.mergeRegionsAsync over flat HFile store regions
    * (MergeTableRegionsProcedure): the member stores merge into ONE
    * store at `outDir` through a single comparator-sorted writer —
    * the reference moves store files and lets the daughter's next
    * compaction consolidate; graft materializes the consolidated
    * store in the same one pass. */
  def mergeRegionStores(spark: SparkSession, dirs: Seq[String],
      outDir: String, blockSize: Int = 65536): Unit = {
    import graft.flow.HFiles
    require(dirs.nonEmpty, "nothing to merge")
    val cells = dirs.map(d => HFiles.importCells(spark, d))
      .reduce(_ unionByName _)
    HFiles.export(cells, numRegions = 1, outPath = outDir,
      blockSize = blockSize)
  }

  // ---- ClusterMetrics / hbtop (ClusterMetrics.java, RegionMetrics
  // .java, hbase-hbtop's Region/Table modes): the watch surface a
  // fleet operator reads. One row per (table, region, store), built
  // from store-file METADATA only — trailer + FILE_INFO preads, never
  // a data block — so a metrics sweep over a 100 TB fleet costs two
  // small reads per store file. The root layout convention is the
  // archive cleaner's: stores under data/<table>/<region>/<family>,
  // mob files under mobdir/<table>/<family>, archived twins under
  // archive/data/<table>/<region>/<family> (namespace folds into the
  // table name here — graft's catalog encoding).

  /** RegionMetrics twin per store: live file count/bytes/cells, the
    * cells' TIMERANGE span, [[graft.flow.Compactions
    * .compactionPressure]] (the scheduler's priority signal), and the
    * store's mob + archive footprints. */
  final case class StoreMetricsRow(table: String, region: String,
      store: String, file_count: Long, n_cells: Long, store_bytes: Long,
      ts_min: Long, ts_max: Long, pressure: Double, mob_files: Long,
      archive_files: Long)

  /** Scan `root`'s store tree into [[StoreMetricsRow]]s. The store
    * LIST is driver-side metadata (one glob); the per-file trailer
    * preads distribute — one task per store, the fleet's parallel
    * unit, exactly how hbtop's RecordFilter views shard per region
    * server. */
  def clusterMetrics(spark: SparkSession, root: String,
      knobs: graft.flow.Compactions.Knobs = graft.flow.Compactions.Knobs())
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def count(glob: String): Long =
      Option(fs.globStatus(new Path(glob))).map(_.length.toLong).getOrElse(0L)
    val stores = Option(fs.globStatus(new Path(s"$root/data/*/*/*")))
      .getOrElse(Array.empty).filter(_.isDirectory).map { st =>
        val store = st.getPath.getName
        val region = st.getPath.getParent.getName
        val table = st.getPath.getParent.getParent.getName
        (table, region, store, st.getPath.toString,
          count(s"$root/mobdir/$table/$store/*.hfile"),
          count(s"$root/archive/data/$table/$region/$store/*.hfile"))
      }.toSeq.sortBy(t => (t._1, t._2, t._3))
    val bconf = graft.flow.ShippedConf.broadcast(spark)
    val mf = knobs.minFiles
    val bf = knobs.blockingFiles
    spark.sparkContext
      .parallelize(stores, math.max(stores.size, 1))
      .map { case (table, region, store, dir, mob, arch) =>
        val p = new Path(dir)
        val tfs = p.getFileSystem(bconf.value.conf)
        val files = Option(tfs.globStatus(new Path(dir, "*.hfile")))
          .getOrElse(Array.empty).filter(_.isFile)
        var cells = 0L
        var bytes = 0L
        var tsMin = Long.MaxValue
        var tsMax = Long.MinValue
        files.foreach { f =>
          val in = tfs.open(f.getPath)
          try {
            val tail = new Array[Byte](graft.codec.HFileV3.TrailerSize)
            in.readFully(f.getLen - tail.length, tail)
            val trailer = graft.codec.HFileV3.readTrailer(tail)
            val pread: graft.codec.HFileV3.PRead = (off, n) => {
              val buf = new Array[Byte](n); in.readFully(off, buf); buf
            }
            val info = graft.codec.HFileV3.readFileInfo(pread, trailer)
            cells += trailer.entryCount
            bytes += f.getLen
            graft.codec.HFileV3.parseTimeRange(info).foreach { case (mn, mx) =>
              if (mn < tsMin) tsMin = mn
              if (mx > tsMax) tsMax = mx
            }
          } finally in.close()
        }
        val n = files.length
        val pressure =
          if (n <= mf) 0.0 else (n - mf).toDouble / (bf - mf)
        StoreMetricsRow(table, region, store, n.toLong, cells, bytes,
          if (tsMin == Long.MaxValue) 0L else tsMin,
          if (tsMax == Long.MinValue) 0L else tsMax,
          pressure, mob, arch)
      }
      .toDS().toDF()
  }

  /** hbtop's rate half (ClusterMetrics.getRequestCountPerSecond,
    * hbase-balancer CostFromRegionLoadAsRateFunction's input shape):
    * the census ([[clusterMetrics]]) is a static snapshot; rates come
    * from the DELTA between two consecutive snapshots over the scrape
    * interval. `censuses` is a union of census frames, each tagged
    * with a monotone `census` ordinal; the view adds each store's
    * per-second write rate ((n_cells − previous n_cells) / interval,
    * null on a store's first appearance — exactly a LAG window per
    * store). One window over the (table, region, store) key — the
    * frame is store-census-count-sized metadata, never data-sized. */
  def metricsRate(censuses: DataFrame, intervalSec: Long): DataFrame = {
    require(intervalSec > 0, "scrape interval must be positive")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("table", "region", "store").orderBy("census")
    censuses
      .withColumn("write_rate",
        (col("n_cells") - lag(col("n_cells"), 1).over(w)) /
          lit(intervalSec.toDouble))
  }

  /** Shared hbtop mode rollup (hbase-hbtop/.../ModeStrategyUtils
    * .aggregateRecords): per-region records group by the mode's key;
    * REGION_COUNT counts distinct (table, region), every numeric
    * metric SUMS. The census here is the per-(table, region, store)
    * frame of [[clusterMetrics]] (or any derived frame with the same
    * keys); non-numeric columns besides the keys are dropped, so the
    * rollup tolerates censuses that lack optional metrics. One
    * map-side-combinable aggregate — census-row-sized, never
    * data-sized. */
  private def hbtopRollup(census: DataFrame,
      key: org.apache.spark.sql.Column, keyName: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = Set("table", "region", "store")
    val metrics = census.schema.fields.collect {
      case f if !keys.contains(f.name) &&
          f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        f.name
    }.toSeq
    // two explicit aggregates — stores→region, then region→mode key —
    // instead of one countDistinct (whose expand plan costs two more
    // exchanges per rollup): region_count is the region-level row
    // count, every metric sums through both levels identically
    val perRegion = census
      .groupBy(key.as(keyName), col("table"), col("region"))
      .agg(lit(1).as("__one"), metrics.map(c => sum(col(c)).as(c)): _*)
    perRegion.groupBy(col(keyName))
      .agg(count(lit(1)).as("region_count"),
        metrics.map(c => sum(col(c)).as(c)): _*)
  }

  /** hbtop NAMESPACE mode (hbase-hbtop/.../NamespaceModeStrategy
    * .java:66-77): region records aggregate by namespace. Graft's
    * catalog folds namespace into the table name as `ns:qualifier`
    * (the reference's own rendering; tables without a `:` are the
    * default namespace), so the rollup splits it back out. */
  def hbtopNamespaces(census: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    hbtopRollup(census,
      when(col("table").contains(":"),
        substring_index(col("table"), ":", 1)).otherwise(lit("default")),
      "namespace")
  }

  /** hbtop REGIONSERVER mode (hbase-hbtop/.../RegionServerModeStrategy
    * .java:77-100): region records aggregate by hosting server.
    * `assignment` is the injected (table, region) → server table (the
    * q119 locality-census pattern — graft's catalog has no live RS
    * heartbeat; the reference reads the same mapping from
    * ClusterMetrics). The heap gauges the reference merges per server
    * (USED/MAX_HEAP_SIZE) are process telemetry with no graft source —
    * join them onto the result if a collector supplies them. hbtop's
    * CLIENT/USER modes need per-RPC attribution no batch engine
    * records — out of scope, documented in SURVEY §2.10. */
  def hbtopServers(census: DataFrame, assignment: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // only the mapping columns join on: any extra (numeric) columns a
    // caller's assignment frame carries must not be mistaken for
    // census metrics by the rollup's schema scan
    hbtopRollup(
      census.join(assignment.select("table", "region", "server"),
        Seq("table", "region")),
      col("server"), "server")
  }
}

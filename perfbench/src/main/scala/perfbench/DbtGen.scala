package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** One entity of a generated dbt project, as the generator knows it.
  * The checks compare the reader's output with these fields. */
final case class DNode(
    id: String,
    group: String, // manifest section: nodes | sources | macros
    rtype: String,
    database: String,
    schema: String,
    name: String,
    alias: Option[String],
    identifier: String,
    materialized: String,
    depNodes: Vector[String],
    depMacros: Vector[String],
    columns: Vector[String],
    checksum: Option[String], // sha256 checksum, when the node has one
    macroSql: String,
    layer: Int
) {

  /** The `name` column the reader must produce. */
  def outName: String = group match {
    case "nodes"   => alias.getOrElse(name)
    case "sources" => identifier
    case _         => name
  }

  /** The `sha256` column the reader must produce. */
  def outSha: Option[String] =
    if (group == "macros") Some(DbtGen.sha256Hex(macroSql))
    else if (group == "nodes") checksum
    else None

  def outDatabase: Option[String] = if (group == "macros") None else Some(database)
  def outSchema: Option[String] = if (group == "macros") None else Some(schema)
  def fanOut: Int = depNodes.size + depMacros.size
  def inCatalog: Boolean = group == "sources" || (group == "nodes" && rtype != "test")
  def inRunResults: Boolean = group == "nodes"
}

/** A generated project: the model every dbt check is made from. */
final case class DbtProject(name: String, entities: Vector[DNode]) {
  lazy val byId: Map[String, DNode] = entities.map(n => n.id -> n).toMap

  /** dst -> srcs over the `depends_on` fan-out (macro edges included,
    * as `ManifestOps.lineageEdges` emits them). */
  lazy val reverseEdges: Map[String, Vector[String]] =
    entities
      .flatMap(n => (n.depNodes ++ n.depMacros).distinct.map(d => d -> n.id))
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).distinct }

  /** Plain breadth-first search for `reverseReachable`: every
    * (src, seed) -> minimal hops, within `maxHops`. */
  def impactOf(seeds: Seq[String], maxHops: Int = 10): Map[(String, String), Int] = {
    val out = mutable.Map[(String, String), Int]()
    for (seed <- seeds.distinct) {
      var frontier = Vector(seed)
      val seen = mutable.Set[String]()
      var hop = 1
      while (frontier.nonEmpty && hop <= maxHops) {
        val next = frontier.flatMap(reverseEdges.getOrElse(_, Vector.empty)).distinct.filterNot(seen)
        next.foreach { s => seen += s; out((s, seed)) = hop }
        frontier = next
        hop += 1
      }
    }
    out.toMap
  }

  /** The reader's presentation order: resource_type, database, schema,
    * name, unique_id, ascending with NULLs last. */
  def sortedForOutput: Vector[DNode] = {
    val nullsLast: Ordering[Option[String]] = (a, b) =>
      (a, b) match {
        case (Some(x), Some(y)) => x.compareTo(y)
        case (None, None)       => 0
        case (None, _)          => 1
        case _                  => -1
      }
    entities.sortWith { (a, b) =>
      val c = Iterator(
        a.rtype.compareTo(b.rtype),
        nullsLast.compare(a.outDatabase, b.outDatabase),
        nullsLast.compare(a.outSchema, b.outSchema),
        a.outName.compareTo(b.outName),
        a.id.compareTo(b.id)
      ).find(_ != 0)
      c.exists(_ < 0)
    }
  }
}

/** Sizes of one generated project. */
final case class DbtShape(
    sources: Int,
    staging: Int,
    intLayers: Int,
    intPerLayer: Int,
    marts: Int,
    seeds: Int,
    macros: Int,
    colsMin: Int,
    colsMax: Int,
    codeWords: Int
)

/** Seeded dbt project generator: a layered sources -> staging ->
  * intermediate -> marts DAG with tests, seeds and macros, written as
  * schema-faithful `manifest.json`, `catalog.json` and
  * `run_results.json`. */
object DbtGen {
  private val Words = Vector(
    "order", "customer", "payment", "account", "session", "event", "invoice", "product", "line",
    "region", "channel", "campaign", "refund", "shipment", "status", "amount", "created", "updated",
    "user", "store", "item", "price", "currency", "country", "daily", "weekly", "active", "revenue"
  )
  private val Types = Vector("varchar", "integer", "bigint", "numeric(18,2)", "timestamp", "boolean", "date")

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def generate(project: String, shape: DbtShape, seed: Long): DbtProject = {
    val rng = new SplittableRandom(seed)
    def pick[T](v: Vector[T]): T = v(rng.nextInt(v.size))
    def word(): String = pick(Words)
    def hex64(): String = (0 until 4).map(_ => f"${rng.nextLong()}%016x").mkString
    def cols(): Vector[String] =
      (0 until shape.colsMin + rng.nextInt(shape.colsMax - shape.colsMin + 1))
        .map(i => s"${word()}_${word()}_$i")
        .toVector
    def pickMany(from: Vector[String], lo: Int, hi: Int): Vector[String] =
      if (from.isEmpty) Vector.empty
      else (0 until lo + rng.nextInt(hi - lo + 1)).map(_ => pick(from)).distinct.toVector

    val out = mutable.ArrayBuffer[DNode]()
    val macroIds = mutable.ArrayBuffer[String]()
    for (i <- 0 until shape.macros) {
      val id = s"macro.$project.m_${word()}_$i"
      val sql = s"{% macro m_$i(${word()}) %} select ${(0 until 6).map(_ => word()).mkString(", ")} {% endmacro %}"
      out += DNode(id, "macros", "macro", "", "", s"m_${word()}_$i", None, "", "", Vector.empty,
        pickMany(macroIds.toVector, 0, 2), Vector.empty, None, sql, 0)
      macroIds += id
    }
    val macros = macroIds.toVector

    val sourceIds = (0 until shape.sources).map { i =>
      val src = i / 8
      val tbl = s"${word()}_$i"
      val id = s"source.$project.src_$src.$tbl"
      val ident = if (rng.nextInt(4) == 0) s"raw_$tbl" else tbl
      out += DNode(id, "sources", "source", "raw", s"src_$src", tbl, None, ident, "", Vector.empty,
        Vector.empty, cols(), None, "", 0)
      id
    }.toVector

    val seedIds = (0 until shape.seeds).map { i =>
      val id = s"seed.$project.seed_$i"
      out += DNode(id, "nodes", "seed", "analytics", "seeds", s"seed_$i", None, "", "seed",
        Vector.empty, Vector.empty, cols(), Some(hex64()), "", 1)
      id
    }.toVector

    def model(name: String, schema: String, layer: Int, deps: Vector[String], mat: String): String = {
      val id = s"model.$project.$name"
      val alias = rng.nextInt(5) match {
        case 0 => Some(s"${name}_v2")
        case 1 => None
        case _ => Some(name)
      }
      out += DNode(id, "nodes", "model", "analytics", schema, name, alias, "", mat, deps,
        pickMany(macros, 0, 2), cols(), Some(hex64()), "", layer)
      id
    }

    val staging = (0 until shape.staging).map { i =>
      val deps = Vector(pick(sourceIds)) ++
        (if (rng.nextInt(3) == 0) Vector(pick(sourceIds)) else Vector.empty) ++
        (if (seedIds.nonEmpty && rng.nextInt(6) == 0) Vector(pick(seedIds)) else Vector.empty)
      model(s"stg_${word()}_$i", "staging", 2, deps.distinct, "view")
    }.toVector

    var below = staging
    var lastLayer = staging
    val intermediate = (1 to shape.intLayers).flatMap { l =>
      val layer = (0 until shape.intPerLayer).map { i =>
        val deps = pickMany(lastLayer, 1, 3) ++ pickMany(below, 0, 2)
        model(s"int_${l}_${word()}_$i", "intermediate", 2 + l, deps.distinct, "ephemeral")
      }.toVector
      below = below ++ layer
      lastLayer = layer
      layer
    }.toVector

    val marts = (0 until shape.marts).map { i =>
      val deps = pickMany(lastLayer, 1, 3) ++ pickMany(intermediate, 1, 3) ++ pickMany(staging, 0, 1)
      model(s"fct_${word()}_$i", "marts", 3 + shape.intLayers, deps.distinct, if (i % 3 == 0) "incremental" else "table")
    }.toVector

    for (m <- staging ++ intermediate ++ marts) {
      val tname = s"not_null_${m.split('.').last}"
      out += DNode(s"test.$project.$tname.${f"${rng.nextInt() & 0xffffff}%06x"}", "nodes", "test",
        "analytics", "dbt_test__audit", tname, None, "", "test", Vector(m),
        Vector(s"macro.dbt.test_not_null"), Vector.empty, None, "", 9)
    }
    DbtProject(project, out.toVector)
  }

  // -- writers ------------------------------------------------------------

  private def q(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  private def arr(v: Seq[String]): String = v.map(q).mkString("[", ",", "]")
  private def text(n: DNode, words: Int, salt: Int): String = {
    val r = new SplittableRandom(n.id.hashCode.toLong * 31 + salt)
    (0 until words).map(_ => Words(r.nextInt(Words.size))).mkString(" ")
  }

  private def manifestEntry(p: DbtProject, n: DNode, codeWords: Int): String = {
    val sb = new java.lang.StringBuilder(4096)
    def colsJson(withMeta: Boolean) = n.columns
      .map { c =>
        s"${q(c)}:{${"\"name\""}:${q(c)},${"\"description\""}:${q(s"The $c column.")},${"\"data_type\""}:${q(Types(math.abs(c.hashCode) % Types.size))}," +
          s"${"\"meta\""}:${if (withMeta) "{\"pii\":\"false\"}" else "{}"},${"\"tags\""}:[],${"\"quote\""}:null}"
      }
      .mkString("{", ",", "}")
    n.group match {
      case "macros" =>
        sb.append(s"""{"unique_id":${q(n.id)},"resource_type":"macro","package_name":${q(p.name)},"name":${q(n.name)},""")
        sb.append(s""""path":${q(s"macros/${n.name}.sql")},"original_file_path":${q(s"macros/${n.name}.sql")},""")
        sb.append(s""""macro_sql":${q(n.macroSql)},"depends_on":{"macros":${arr(n.depMacros)}},""")
        sb.append(s""""description":"","meta":{},"docs":{"show":true,"node_color":null},"patch_path":null,"arguments":[],"created_at":1714564800.5}""")
      case "sources" =>
        sb.append(s"""{"unique_id":${q(n.id)},"resource_type":"source","database":${q(n.database)},"schema":${q(n.schema)},""")
        sb.append(s""""name":${q(n.name)},"identifier":${q(n.identifier)},"source_name":${q(n.schema)},"package_name":${q(p.name)},""")
        sb.append(s""""path":"models/sources.yml","loader":"fivetran","description":${q(text(n, 12, 1))},""")
        sb.append(s""""columns":${colsJson(true)},"meta":{"owner":"data-eng"},"tags":["raw"],""")
        sb.append(s""""config":{"enabled":true},"freshness":{"warn_after":{"count":12,"period":"hour"}},"relation_name":${q(s"raw.${n.schema}.${n.identifier}")}}""")
      case _ =>
        val checksum = n.checksum match {
          case Some(h) => s"""{"name":"sha256","checksum":${q(h)}}"""
          case None    => """{"name":"none","checksum":""}"""
        }
        val alias = n.alias.map(q).getOrElse("null")
        sb.append(s"""{"unique_id":${q(n.id)},"resource_type":${q(n.rtype)},"package_name":${q(p.name)},""")
        sb.append(s""""path":${q(s"${n.schema}/${n.name}.sql")},"original_file_path":${q(s"models/${n.schema}/${n.name}.sql")},""")
        sb.append(s""""fqn":${arr(Seq(p.name, n.schema, n.name))},"database":${q(n.database)},"schema":${q(n.schema)},""")
        sb.append(s""""name":${q(n.name)},"alias":$alias,"description":${q(text(n, 16, 2))},""")
        sb.append(s""""config":{"enabled":true,"materialized":${q(n.materialized)},"tags":[],"meta":{},"on_schema_change":"ignore"},""")
        sb.append(s""""depends_on":{"macros":${arr(n.depMacros)},"nodes":${arr(n.depNodes)}},""")
        sb.append(s""""columns":${colsJson(false)},"meta":{"owner":"analytics"},"tags":${arr(Seq(n.schema))},""")
        sb.append(s""""checksum":$checksum,"refs":[],"sources":[],""")
        sb.append(s""""raw_code":${q("select " + text(n, codeWords, 3))},"compiled_code":${q("select " + text(n, codeWords, 4))}}""")
    }
    sb.toString
  }

  def manifestJson(p: DbtProject, shape: DbtShape): String = {
    val sb = new java.lang.StringBuilder(1 << 20)
    sb.append(s"""{"metadata":{"dbt_schema_version":"https://schemas.getdbt.com/dbt/manifest/v11.json","dbt_version":"1.7.4","project_name":${q(p.name)}},""")
    for ((section, first) <- Seq("nodes", "sources", "macros").zipWithIndex) {
      if (first > 0) sb.append(',')
      sb.append(q(section)).append(":{")
      var sep = false
      for (n <- p.entities if n.group == section) {
        if (sep) sb.append(',')
        sb.append(q(n.id)).append(':').append(manifestEntry(p, n, shape.codeWords))
        sep = true
      }
      sb.append('}')
    }
    val parents = p.entities.filter(_.group == "nodes").map(n => s"${q(n.id)}:${arr(n.depNodes)}")
    sb.append(""","exposures":{},"metrics":{},"parent_map":""").append(parents.mkString("{", ",", "}")).append('}')
    sb.toString
  }

  def catalogJson(p: DbtProject): String = {
    def entry(n: DNode) = {
      val kind = if (n.group == "sources" || n.materialized == "table") "BASE TABLE" else "VIEW"
      val cols = n.columns.zipWithIndex
        .map { case (c, i) => s"""${q(c.toUpperCase)}:{"type":"TEXT","index":${i + 1},"name":${q(c.toUpperCase)},"comment":null}""" }
        .mkString("{", ",", "}")
      s"""${q(n.id)}:{"metadata":{"type":${q(kind)},"schema":${q(n.schema)},"name":${q(n.outName)},"database":${q(n.database)},"comment":null,"owner":"loader"},""" +
        s""""columns":$cols,"stats":{"has_stats":{"id":"has_stats","label":"Has Stats?","value":false,"include":false,"description":"Indicates whether there are statistics for this table"}},"unique_id":${q(n.id)}}"""
    }
    val inCat = p.entities.filter(_.inCatalog)
    s"""{"metadata":{"dbt_version":"1.7.4","generated_at":"2024-05-01T12:00:00.123Z"},""" +
      s""""nodes":${inCat.filter(_.group == "nodes").map(entry).mkString("{", ",", "}")},""" +
      s""""sources":${inCat.filter(_.group == "sources").map(entry).mkString("{", ",", "}")},"errors":null}"""
  }

  /** run_results status of a node — derived from its id so the check
    * can restate it. */
  def status(n: DNode): String =
    if (n.rtype == "test") (if (math.abs(n.id.hashCode) % 11 == 0) "fail" else "pass")
    else if (math.abs(n.id.hashCode) % 23 == 0) "error"
    else "success"

  def runResultsJson(p: DbtProject): String = {
    val results = p.entities.filter(_.inRunResults).map { n =>
      val t = (math.abs(n.id.hashCode) % 5000) / 1000.0
      s"""{"status":${q(status(n))},"timing":[{"name":"compile","started_at":"2024-05-01T12:00:00.000Z","completed_at":"2024-05-01T12:00:00.100Z"},""" +
        s"""{"name":"execute","started_at":"2024-05-01T12:00:00.100Z","completed_at":"2024-05-01T12:00:01.100Z"}],""" +
        s""""thread_id":"Thread-${math.abs(n.id.hashCode) % 8}","execution_time":$t,""" +
        s""""adapter_response":{"_message":"SUCCESS 1","code":"SUCCESS","rows_affected":"1"},""" +
        s""""message":${q(if (status(n) == "error") "Database Error in model" else "OK")},"failures":null,"unique_id":${q(n.id)}}"""
    }
    s"""{"metadata":{"dbt_schema_version":"https://schemas.getdbt.com/dbt/run-results/v5.json","dbt_version":"1.7.4","generated_at":"2024-05-01T12:00:00.123Z","invocation_id":"0c8f","env":{}},""" +
      s""""results":${results.mkString("[", ",", "]")},"elapsed_time":321.5,"args":{"which":"build","threads":"8"}}"""
  }

  def write(path: Path, s: String): Long = {
    Files.createDirectories(path.getParent)
    val b = s.getBytes(UTF_8)
    Files.write(path, b)
    b.length.toLong
  }
}

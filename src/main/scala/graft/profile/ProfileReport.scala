package graft.profile

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{DumperOptions, Yaml}

import graft.profile.ColumnProfiler.TableProfile
import graft.profile.ProfileComparison.ComparisonSummary

/** Report outputs for profiles and profile comparisons (SURVEY §2.11 C4;
  * reference /root/reference/parq_tools/parq_profile.py:158-175 to_html /
  * save_html, :305-319 to_summary_yaml, :369-418 write_outputs).
  *
  * The reference renders via ydata-profiling's report engine; here the HTML
  * is a small self-contained page (inline CSS, no external assets) built
  * from the already-computed stats — the report step never touches data,
  * so it is free at any scale.
  */
object ProfileReport {

  // ------------------------------------------------------------- profile

  /** HTML for a single table profile (reference to_html, parq_profile.py:158).
    * `datasetMetadata` renders as a header block (the reference's
    * dataset_metadata config); `columnDescriptions` adds a description
    * column (variables.descriptions). */
  def toHtml(p: TableProfile, title: String = "Profile report",
      datasetMetadata: Map[String, String] = Map.empty,
      columnDescriptions: Map[String, String] = Map.empty,
      extraSections: Seq[String] = Nil): String = {
    val withDesc = columnDescriptions.nonEmpty
    val cols = p.variables.toSeq.sortBy(_._1)
    val rows = cols.map { case (name, v) =>
      val alerts = v.alerts.map(a => s"""<span class="alert">$a</span>""").mkString(" ")
      val desc = if (withDesc)
        s"<td>${esc(columnDescriptions.getOrElse(name, ""))}</td>" else ""
      s"""<tr><td>${esc(name)}</td>$desc<td>${esc(v.dtype)}</td><td>${v.n}</td>
         |<td>${v.nMissing}</td><td>${fmtD(v.pMissing)}</td><td>${v.nDistinct}</td>
         |<td>${v.mean.map(fmtD).getOrElse("")}</td><td>${v.std.map(fmtD).getOrElse("")}</td>
         |<td>${v.min.map(x => esc(x.toString)).getOrElse("")}</td>
         |<td>${v.p25.map(fmtD).getOrElse("")}</td><td>${v.p50.map(fmtD).getOrElse("")}</td>
         |<td>${v.p75.map(fmtD).getOrElse("")}</td>
         |<td>${v.max.map(x => esc(x.toString)).getOrElse("")}</td>
         |<td>${v.nZeros}</td><td>${v.memorySize}</td>
         |<td class="hist">${histSvg(v)}</td><td>$alerts</td></tr>""".stripMargin
    }.mkString("\n")
    val metaBlock =
      if (datasetMetadata.isEmpty) ""
      else datasetMetadata.toSeq.sortBy(_._1).map { case (k, v) =>
        s"""<dt>${esc(k)}</dt><dd>${esc(v)}</dd>"""
      }.mkString("<dl class=\"dataset-meta\">", "", "</dl>")
    val descHead = if (withDesc) "<th>description</th>" else ""
    page(title,
      s"""$metaBlock
         |<p class="meta">rows: ${p.n} &middot; columns: ${p.nVar}</p>
         |<table><thead><tr><th>column</th>$descHead<th>dtype</th><th>n</th><th>missing</th>
         |<th>p_missing</th><th>distinct</th><th>mean</th><th>std</th><th>min</th>
         |<th>p25</th><th>p50</th><th>p75</th>
         |<th>max</th><th>zeros</th><th>bytes</th><th>histogram</th><th>alerts</th></tr></thead>
         |<tbody>$rows</tbody></table>
         |${extraSections.mkString("\n")}""".stripMargin)
  }

  /** Atomic HTML save (reference save_html, parq_profile.py:164-167). */
  def saveHtml(p: TableProfile, path: String, title: String = "Profile report"): Unit =
    atomicWrite(path, toHtml(p, title))

  /** Correlation-matrix section for the profile report: long-form
    * (col_a, col_b, pearson) rows — [[ColumnProfiler.correlations]] output
    * collected — rendered as a symmetric matrix table with 1.0 diagonal.
    * Append to a [[toHtml]] body or serve standalone via [[page]]-less
    * embedding. */
  def correlationsHtml(rows: Seq[(String, String, Option[Double])]): String = {
    val names = rows.flatMap(r => Seq(r._1, r._2)).distinct
    val lookup = rows.flatMap { case (a, b, v) => Seq((a, b) -> v, (b, a) -> v) }.toMap
    val header = names.map(n => s"<th>${esc(n)}</th>").mkString
    val body = names.map { a =>
      val cells = names.map { b =>
        val v = if (a == b) Some(1.0) else lookup.getOrElse((a, b), None)
        s"<td>${v.map(fmtD).getOrElse("")}</td>"
      }.mkString
      s"<tr><th>${esc(a)}</th>$cells</tr>"
    }.mkString("\n")
    s"""<h2>Correlations (Pearson)</h2>
       |<table class="corr"><thead><tr><th></th>$header</tr></thead>
       |<tbody>$body</tbody></table>""".stripMargin
  }

  /** Render one structured column-metadata map into a profile description
    * string (reference ColumnMetadata.to_description_string,
    * profile_utils.py:87-110): "Title: Description (Units: u; Source: s)". */
  def columnDescription(meta: Map[String, String]): String = {
    val title = meta.get("title")
    val description = meta.get("description")
    val base = (title, description) match {
      case (Some(t), Some(d)) => s"$t: $d"
      case (None, Some(d)) => d
      case (Some(t), None) => t
      case (None, None) => ""
    }
    val extras =
      meta.get("units").orElse(meta.get("unit_of_measure")).map(u => s"Units: $u").toSeq ++
      meta.get("source").map(s => s"Source: $s").toSeq
    if (extras.isEmpty) base
    else if (base.isEmpty) extras.mkString("; ")
    else s"$base (${extras.mkString("; ")})"
  }

  /** Column descriptions recovered from a parquet file's per-field metadata
    * (the reference's metadata-from-file path, parq_profile.py via
    * metadata_utils.get_column_metadata). */
  def columnDescriptionsFromFile(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[String, String] = {
    val keys = Seq("title", "description", "units", "unit_of_measure", "source")
    graft.io.ParquetIO.schema(spark, path).fields.flatMap { f =>
      val kv = keys.flatMap(k =>
        if (f.metadata.contains(k)) Some(k -> f.metadata.getString(k)) else None).toMap
      val d = columnDescription(kv)
      if (d.isEmpty) None else Some(f.name -> d)
    }.toMap
  }

  /** Profile a file and render its HTML report with dataset + column
    * metadata recovered from the footers — the reference's
    * ParquetProfileReport default path. */
  def profileFileHtml(spark: org.apache.spark.sql.SparkSession, path: String,
      title: String = "Profile report",
      exactDistinct: Boolean = false): String = {
    val profile = ColumnProfiler.profileFile(spark, path, exactDistinct = exactDistinct)
    toHtml(profile, title,
      datasetMetadata = graft.io.FooterMetadata.readUserMetadata(spark, path),
      columnDescriptions = columnDescriptionsFromFile(spark, path))
  }

  // ---------------------------------------------------------- comparison

  /** HTML for a comparison summary (reference to_comparison_report →
    * write_outputs comparison_html). */
  def comparisonHtml(s: ComparisonSummary, title: String = "Profile comparison"): String = {
    val head = s.labels.map(l => s"<th>${esc(l)}</th>").mkString
    val rows = s.columns.toSeq.sortBy(_._1).map { case (name, cc) =>
      val cls = if (cc.status == "equal") "same" else "diff"
      val prefix = if (cc.status == "equal") "🟢 SAME | " else "🔴 DIFF | "
      val metricRows = cc.metrics.toSeq.sortBy(_._1).map { case (m, mc) =>
        val vals = mc.values.map(v => s"<td>${v.map(x => esc(x.toString)).getOrElse("")}</td>").mkString
        val tol = if (mc.withinTolerance) "within" else "exceeds"
        s"""<tr class="metric"><td>$m</td>$vals<td class="$cls">$tol</td></tr>"""
      }.mkString("\n")
      s"""<tr class="$cls col"><td colspan="${s.labels.size + 2}">$prefix${esc(name)}
         |[${cc.status}]${if (cc.reasons.nonEmpty) " — " + esc(cc.reasons.mkString("; ")) else ""}</td></tr>
         |$metricRows""".stripMargin
    }.mkString("\n")
    page(title,
      s"""<p class="meta">${s.labels.mkString(" vs ")} &middot;
         |equal: ${s.overview.equal} &middot; different: ${s.overview.different} &middot;
         |missing: ${s.overview.missingInSome} &middot; type-mismatch: ${s.overview.typeMismatch}</p>
         |<table><thead><tr><th>metric</th>$head<th>tolerance</th></tr></thead>
         |<tbody>$rows</tbody></table>
         |<p class="meta">tolerances: abs_tol=${s.absTol} rel_tol=${s.relTol} &middot;
         |metrics: ${s.metricsCompared.mkString(", ")}</p>""".stripMargin)
  }

  /** Diff-only HTML: changed columns only (reference to_diff_report). */
  def diffHtml(s: ComparisonSummary, title: String = "Profile diff"): String =
    comparisonHtml(ProfileComparison.diffOnly(s), title)

  /** YAML rendering of the comparison summary (reference to_summary_yaml,
    * parq_profile.py:305-319; safe_dump with insertion order kept). */
  def toSummaryYaml(s: ComparisonSummary): String = {
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("labels", s.labels.asJava)
    val ov = new java.util.LinkedHashMap[String, Any]()
    ov.put("equal", s.overview.equal); ov.put("different", s.overview.different)
    ov.put("missing_in_some", s.overview.missingInSome)
    ov.put("type_mismatch", s.overview.typeMismatch)
    ov.put("total_columns", s.overview.totalColumns)
    root.put("overview", ov)
    val cols = new java.util.LinkedHashMap[String, Any]()
    s.columns.toSeq.sortBy(_._1).foreach { case (name, cc) =>
      val c = new java.util.LinkedHashMap[String, Any]()
      c.put("status", cc.status)
      c.put("present", cc.present.map(Boolean.box).asJava)
      c.put("types", cc.types.map(_.orNull).asJava)
      c.put("reasons", cc.reasons.asJava)
      val metrics = new java.util.LinkedHashMap[String, Any]()
      cc.metrics.toSeq.sortBy(_._1).foreach { case (m, mc) =>
        val mm = new java.util.LinkedHashMap[String, Any]()
        mm.put("values", mc.values.map(v => yamlScalar(v.orNull)).asJava)
        mm.put("within_tolerance", Boolean.box(mc.withinTolerance))
        mm.put("deltas_from_first", mc.deltasFromFirst.map {
          case Some((a, r)) =>
            val d = new java.util.LinkedHashMap[String, Any]()
            d.put("abs", yamlScalar(a)); d.put("rel", yamlScalar(r)); d
          case None => null
        }.asJava)
        metrics.put(m, mm)
      }
      c.put("metrics", metrics)
      cols.put(name, c)
    }
    root.put("columns", cols)
    val tol = new java.util.LinkedHashMap[String, Any]()
    tol.put("abs_tol", s.absTol); tol.put("rel_tol", s.relTol)
    root.put("tolerance", tol)
    root.put("metrics_compared", s.metricsCompared.asJava)
    val opts = new DumperOptions()
    opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
    new Yaml(opts).dump(root)
  }

  def saveSummaryYaml(s: ComparisonSummary, path: String): Unit =
    atomicWrite(path, toSummaryYaml(s))

  /** One-call bundle output (reference write_outputs, parq_profile.py:369-418):
    * any of comparison HTML, diff-only HTML, differences YAML. Returns the
    * paths written. */
  def writeOutputs(s: ComparisonSummary,
      comparisonHtmlPath: Option[String] = None,
      diffHtmlPath: Option[String] = None,
      differencesYamlPath: Option[String] = None): Map[String, String] = {
    var written = Map.empty[String, String]
    comparisonHtmlPath.foreach { p => atomicWrite(p, comparisonHtml(s)); written += "comparison_html" -> p }
    diffHtmlPath.foreach { p => atomicWrite(p, diffHtml(s)); written += "diff_html" -> p }
    differencesYamlPath.foreach { p => saveSummaryYaml(s, p); written += "differences_yaml" -> p }
    written
  }

  // ------------------------------------------------------------- helpers

  private def yamlScalar(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN) ".nan" else if (d.isInfinite) (if (d > 0) ".inf" else "-.inf") else Double.box(d)
    case f: Float => yamlScalar(f.toDouble)
    case n: Number => n
    case b: Boolean => Boolean.box(b)
    case other => other.toString
  }

  /** Inline-SVG bar histogram from the profile's fixed-width bin counts
    * (the visible ydata-report gap: per-column distribution shape). Bars
    * scale to the tallest bin; a title attribute carries the exact edge
    * range and counts for hover inspection. Empty for non-numeric or
    * histogram-less (approx-mode) profiles. */
  // ------------------------------------------------- interactions + samples

  /** Interaction section: per-pair 2-D density grids rendered as SVG
    * heat cells — the scale-native stand-in for the reference report's
    * per-pair scatter plots (plotting raw points is driver-bound; the
    * EXACT binned counts from [[ColumnProfiler.interactionGrid]] are
    * bounded by pairs × bins²). `rows` is that operator's collected
    * output: `(col_a, col_b, bin_x, bin_y, n, lo_a, hi_a, lo_b, hi_b)`.
    * Cell darkness is log-scaled (density grids are heavy-tailed). */
  def interactionsHtml(
      rows: Seq[(String, String, Int, Int, Long, Double, Double, Double, Double)],
      bins: Int = 24): String = {
    val cell = 7
    val panels = rows.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1).map {
      case ((a, b), cells) =>
        val peakLog = math.log1p(cells.map(_._5).max.toDouble)
        val rects = cells.map { case (_, _, bx, by, n, _, _, _, _) =>
          val alpha = if (peakLog == 0) 1.0 else math.log1p(n.toDouble) / peakLog
          // SVG y grows downward; bin_y grows upward
          s"""<rect x="${bx * cell}" y="${(bins - 1 - by) * cell}" """ +
            f"""width="$cell" height="$cell" fill-opacity="$alpha%.3f"><title>""" +
            esc(s"$a bin $bx × $b bin $by: $n") + "</title></rect>"
        }.mkString
        val (loA, hiA, loB, hiB) = (cells.head._6, cells.head._7,
          cells.head._8, cells.head._9)
        s"""<figure class="interaction"><figcaption>${esc(a)} × ${esc(b)}</figcaption>
           |<svg width="${bins * cell}" height="${bins * cell}" class="gridsvg">$rects</svg>
           |<div class="axes">x: ${esc(a)} [${fmtD(loA)}, ${fmtD(hiA)}] &middot;
           | y: ${esc(b)} [${fmtD(loB)}, ${fmtD(hiB)}]</div></figure>""".stripMargin
    }
    s"""<section class="interactions"><h2>Interactions</h2>
       |${panels.mkString("\n")}</section>""".stripMargin
  }

  /** Sample-rows section (the reference report's head sample): render the
    * first `n` rows of `df`. The `limit(n)` is scan-local (Spark stops
    * reading after n rows) and the collect is the bounded report tail —
    * never a data path. */
  def sampleRowsHtml(df: org.apache.spark.sql.DataFrame, n: Int = 10): String = {
    require(n >= 1 && n <= 1000, s"sample size must be in [1, 1000]: $n")
    val names = df.columns
    val rows = df.limit(n).collect()
    val head = names.map(c => s"<th>${esc(c)}</th>").mkString
    val body = rows.map { r =>
      names.indices.map { i =>
        val v = r.get(i)
        s"<td>${esc(if (v == null) "" else v.toString)}</td>"
      }.mkString("<tr>", "", "</tr>")
    }.mkString("\n")
    s"""<section class="samples"><h2>Sample (first ${rows.length} rows)</h2>
       |<table><thead><tr>$head</tr></thead><tbody>$body</tbody></table></section>""".stripMargin
  }

  private def histSvg(v: ColumnProfiler.ColumnProfile): String =
    (v.hist, v.histLo, v.histHi) match {
      case (Some(counts), Some(lo), Some(hi)) if counts.nonEmpty =>
        val peak = math.max(1L, counts.max)
        val bw = 8
        val h = 24
        val bars = counts.zipWithIndex.map { case (c, i) =>
          val bh = math.max(if (c > 0) 1 else 0, (c.toDouble / peak * h).round.toInt)
          s"""<rect x="${i * bw}" y="${h - bh}" width="${bw - 1}" height="$bh"/>"""
        }.mkString
        val tip = s"[${fmtD(lo)}, ${fmtD(hi)}] " + counts.mkString(",")
        s"""<svg width="${counts.size * bw}" height="$h" class="histsvg">""" +
          s"""<title>${esc(tip)}</title>$bars</svg>"""
      case _ => ""
    }

  private def fmtD(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal.stripTrailingZeros.toPlainString

  private def esc(s: String): String =
    s.flatMap { case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
                case '"' => "&quot;"; case c => c.toString }

  private def page(title: String, body: String): String =
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title><style>
       |body{font-family:system-ui,sans-serif;margin:2rem;color:#222}
       |table{border-collapse:collapse;width:100%}
       |th,td{border:1px solid #ddd;padding:4px 8px;text-align:left;font-size:13px}
       |th{background:#f5f5f5}
       |tr.col td{font-weight:600;background:#fafafa}
       |tr.same.col td{border-left:4px solid #2e7d32}
       |tr.diff.col td{border-left:4px solid #c62828}
       |td.same{color:#2e7d32}td.diff{color:#c62828}
       |.alert{background:#fff3cd;border:1px solid #ffc107;border-radius:3px;padding:0 4px;font-size:12px}
       |.meta{color:#666}
       |.histsvg rect{fill:#4a7ebb}td.hist{background:#fff}
       |.gridsvg{background:#fafafa;border:1px solid #ddd}
       |.gridsvg rect{fill:#4a7ebb}
       |figure.interaction{display:inline-block;margin:0 1rem 1rem 0}
       |figure.interaction figcaption{font-size:13px;font-weight:600}
       |figure.interaction .axes{font-size:11px;color:#666}
       |</style></head><body><h1>${esc(title)}</h1>
       |$body
       |</body></html>""".stripMargin

  /** Temp-then-rename write (the reference's atomic_output_file contract). */
  private def atomicWrite(path: String, content: String): Unit = {
    val target = Paths.get(path)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = Files.createTempFile(
      Option(target.getParent).getOrElse(Paths.get(".")), s".${target.getFileName}", ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.Column

import graft.text.{Cleaners, Filters, TextFilter}

/** S7/S8: YAML pipeline config → resolved operator stacks, mirroring the
  * reference's config shape (experiments/tiny-example.yaml, utils.py:18-50).
  * The parser is a minimal purpose-built YAML subset (nested maps, lists,
  * scalars, comments) — enough for the reference's config language, zero
  * dependencies.
  */
object MiniYaml {

  /** Parse a YAML-subset document into Map[String, Any]
    * (Any = String | Boolean | Int | Double | Null | Map | List).
    */
  def parse(text: String): Map[String, Any] = {
    val lines = text.linesIterator
      .map(l => l.takeWhile(_ != '#'))
      .filter(_.trim.nonEmpty)
      .toVector
    val (result, _) = parseBlock(lines, 0, 0)
    result match {
      case m: Map[String @unchecked, Any @unchecked] => m
      case other => Map("value" -> other)
    }
  }

  private def indentOf(l: String): Int = l.takeWhile(_ == ' ').length

  private val InlineMapItem =
    "^([A-Za-z_][A-Za-z0-9_-]*):(?:\\s+(.*))?$".r

  private def scalar(s: String): Any = s.trim match {
    case "" | "null" | "~" => null
    // YAML 1.1 boolean spellings (what the reference's PyYAML safe_load
    // accepts): vicuna-v0.yaml writes `do_deduplication: True` /
    // `verbose: False` (Python style) — leaving them as strings here
    // silently SKIPPED dedup (r17 RunnerSpec catch). yes/no/on/off are
    // booleans in the same table; quote them to keep the strings.
    case "true" | "True" | "TRUE" | "yes" | "Yes" | "YES" |
         "on" | "On" | "ON" => true
    case "false" | "False" | "FALSE" | "no" | "No" | "NO" |
         "off" | "Off" | "OFF" => false
    case v if v.startsWith("\"") && v.endsWith("\"") && v.length >= 2 =>
      v.substring(1, v.length - 1)
    case v if v.startsWith("'") && v.endsWith("'") && v.length >= 2 =>
      v.substring(1, v.length - 1)
    case v => try { v.toInt } catch {
      case _: NumberFormatException =>
        // Long BEFORE Double: takedown ids are 2^62-scale streamed gids
        // (r16 spec find — the Int→Double fallback silently rounded a
        // 19-digit delete id to the nearest representable double)
        try { v.toLong } catch {
          case _: NumberFormatException => try { v.toDouble } catch {
            case _: NumberFormatException => v
          }
        }
    }
  }

  /** Parse the block starting at `i` with indentation `indent`; returns
    * (value, next line index).
    */
  private def parseBlock(lines: Vector[String], i: Int,
      indent: Int): (Any, Int) = {
    if (i >= lines.length) return (null, i)
    if (lines(i).trim.startsWith("- ") || lines(i).trim == "-") {
      // list block
      val items = mutable.ListBuffer.empty[Any]
      var cur = i
      while (cur < lines.length && indentOf(lines(cur)) == indent &&
        lines(cur).trim.startsWith("-")) {
        val rest = lines(cur).trim.drop(1).trim
        if (rest.isEmpty) {
          val (v, next) = parseBlock(lines, cur + 1, indent + 2)
          items += v
          cur = next
        } else rest match {
          // "- key: value" / "- key:" opens a MAP item (the reference's
          // `datasets:` shape, main.py:17). The key must be
          // identifier-like and the colon followed by whitespace/EOL so
          // scalars containing colons ("http://x", quoted strings) stay
          // scalars. Further keys of the same item continue on the
          // following lines at the dash-content indent (indent+2) and
          // merge in — without the merge they would abort every
          // enclosing block and silently truncate the document (r17
          // review catch).
          case InlineMapItem(key, value) =>
            val head = scala.collection.immutable.ListMap(
              key -> scalar(Option(value).getOrElse("")))
            if (cur + 1 < lines.length &&
              indentOf(lines(cur + 1)) == indent + 2 &&
              !lines(cur + 1).trim.startsWith("-")) {
              val (v, next) = parseBlock(lines, cur + 1, indent + 2)
              v match {
                case m: Map[String @unchecked, Any @unchecked] =>
                  items += (head ++ m)
                case other => sys.error(
                  s"list item continuation after '- $rest' must be a " +
                    s"map, got $other")
              }
              cur = next
            } else {
              items += head
              cur += 1
            }
          case _ =>
            items += scalar(rest)
            cur += 1
        }
      }
      (items.toList, cur)
    } else {
      // map block
      val m = mutable.LinkedHashMap.empty[String, Any]
      var cur = i
      while (cur < lines.length && indentOf(lines(cur)) == indent &&
        lines(cur).contains(":")) {
        val line = lines(cur).trim
        val key = line.takeWhile(_ != ':').trim
        val rest = line.dropWhile(_ != ':').drop(1).trim
        if (rest.nonEmpty) {
          m(key) = scalar(rest)
          cur += 1
        } else if (cur + 1 < lines.length &&
          indentOf(lines(cur + 1)) > indent) {
          val (v, next) = parseBlock(lines, cur + 1, indentOf(lines(cur + 1)))
          m(key) = v
          cur = next
        } else {
          m(key) = null
          cur += 1
        }
      }
      // ListMap: insertion order IS semantics (cleaner/filter application
      // order comes from YAML declaration order, like Python's dicts);
      // m.toMap would silently reorder maps with >4 keys.
      (scala.collection.immutable.ListMap(m.toSeq: _*), cur)
    }
  }
}

/** Resolved per-column pipeline configuration (the reference's
  * `instruction_config` / `response_config` shape).
  */
final case class ColumnConfig(
    cleaners: Seq[(String, Column => Column)],
    filters: Seq[TextFilter],
    dedup: Option[graft.dedup.MinHashConfig],
    dedupAudit: Boolean = false,
    dedupJournalPath: Option[String] = None)

object PipelineConfig {

  /** utils.py:23-33: cleaners are a name→bool map. */
  def cleanersFrom(config: Map[String, Any]): Seq[(String, Column => Column)] =
    config.get("cleaners") match {
      case Some(m: Map[String @unchecked, Any @unchecked]) =>
        m.toSeq.collect { case (name, true) =>
          name -> Cleaners.registry.getOrElse(name,
            throw new IllegalArgumentException(s"unknown cleaner $name"))
        }
      case _ => Seq.empty
    }

  /** utils.py:36-50: filters are name→{args: {...}} with kwarg binding. */
  def filtersFrom(config: Map[String, Any]): Seq[TextFilter] =
    config.get("filters") match {
      case Some(m: Map[String @unchecked, Any @unchecked]) =>
        m.toSeq.map { case (name, v) =>
          val args = v match {
            case vm: Map[String @unchecked, Any @unchecked] =>
              vm.get("args") match {
                case Some(am: Map[String @unchecked, Any @unchecked]) => am
                case _ => Map.empty[String, Any]
              }
            case _ => Map.empty[String, Any]
          }
          Filters.fromConfig(name, args)
        }
      case _ => Seq.empty
    }

  /** Dedup gate + kwargs, mirroring preprocessor.py:35,73-77 exactly: the
    * gate is `do_deduplication` and parameters come from `args` ONLY — the
    * reference's own tiny-example.yaml puts them under `minhash_config`,
    * which the reference silently ignores (defaults win); we reproduce
    * that read path (defaults: minhash_deduplication.py:214-221).
    */
  def dedupFrom(config: Map[String, Any]): Option[graft.dedup.MinHashConfig] =
    config.get("deduplication") match {
      case Some(m: Map[String @unchecked, Any @unchecked])
        if m.get("do_deduplication").contains(true) =>
        val args = m.get("args") match {
          case Some(am: Map[String @unchecked, Any @unchecked]) => am
          case _ => Map.empty[String, Any]
        }
        def i(k: String, d: Int) =
          args.get(k).map(_.toString.toInt).getOrElse(d)
        def dd(k: String, d: Double) =
          args.get(k).map(_.toString.toDouble).getOrElse(d)
        // beyond the reference (VERDICT r13 #4): the hot-bucket skew
        // remedy is config-reachable, not API-only — `skew_salts: auto`
        // enables the max-depth probe + measured-crossover routing to
        // the agg-join bucket-min ([[graft.dedup.MinHashConfig.skewProbe]];
        // self-disables on flat corpora), 0/absent keeps the plain window
        // (the reference read path ignores the key entirely, so
        // reference configs are unaffected). A config typo must name the
        // key, not surface from deep inside parsing (ADVICE r14).
        val skewProbe = args.get("skew_salts").map(_.toString.trim) match {
          case Some(s) if s.equalsIgnoreCase("auto") => true
          case Some("0") | None => false
          case Some(s) => sys.error(
            s"dedup.skew_salts must be 'auto' or 0, got: $s")
        }
        Some(graft.dedup.MinHashConfig(
          ngramSize = i("ngram_size", 5),
          numPerm = i("num_perm", 256),
          threshold = dd("threshold", 0.7),
          minNgramSize = i("min_ngram_size", 5),
          skewProbe = skewProbe))
      case _ => None
    }

  /** Opt-in audited dedup (beyond the reference; VERDICT r8 #5):
    * `deduplication.audit_stats: true` routes the dedup gate through
    * [[graft.dedup.MinHashDedup.deduplicateWithStats]] — the SAME kept
    * set from ONE clustering pass, plus the cluster-size histogram
    * logged for corpus auditing, instead of paying signatures + banding
    * + clustering twice to get both.
    */
  def dedupAuditFrom(config: Map[String, Any]): Boolean =
    config.get("deduplication") match {
      case Some(m: Map[String @unchecked, Any @unchecked]) =>
        m.get("audit_stats").contains(true)
      case _ => false
    }

  /** Opt-in retention journaling (beyond the reference; VERDICT r15 #4:
    * takedown was API-only): `deduplication.journal_path: /path` makes
    * the dedup pass also publish the FULL banded journal of the kept
    * rows — the artifact `graft.pipeline.Retention` later deletes from
    * and compacts, so a YAML pipeline gets the complete journal →
    * delete → compact takedown cycle without Scala. Sits next to
    * `audit_stats` (outside `args`, which mirror the reference's
    * MinHash kwargs only).
    */
  def dedupJournalFrom(config: Map[String, Any]): Option[String] =
    config.get("deduplication") match {
      case Some(m: Map[String @unchecked, Any @unchecked]) =>
        m.get("journal_path").map(_.toString)
      case _ => None
    }

  def columnConfig(config: Map[String, Any]): ColumnConfig =
    ColumnConfig(cleanersFrom(config), filtersFrom(config),
      dedupFrom(config), dedupAuditFrom(config), dedupJournalFrom(config))
}

/** P11 canonical preset stacks — utils.py:53-139 thresholds. */
object Presets {

  /** get_output_text_cleaners — utils.py:53-60. */
  val outputTextCleaners: Seq[(String, Column => Column)] = Seq(
    "normalize_whitespace" -> Cleaners.normalizeWhitespace,
    "normalize_punctuation" -> Cleaners.normalizePunctuation,
    "fix_utf8_encoding" -> Cleaners.fixUtf8Encoding,
    "remove_empty_lines" -> Cleaners.removeEmptyLines)

  /** get_input_text_cleaners — utils.py:63-68. */
  val inputTextCleaners: Seq[(String, Column => Column)] = Seq(
    "normalize_whitespace" -> Cleaners.normalizeWhitespace,
    "remove_empty_lines" -> Cleaners.removeEmptyLines)

  /** get_output_text_filters — utils.py:71-107 (word 5..128, completion,
    * char-rep 0.2, lowercase 0.75, optional nsfw 0.025 / ppl 300..10000).
    */
  def outputTextFilters(filterNsfw: Boolean = false,
      filterPerplexity: Boolean = false): Seq[TextFilter] = {
    val base = Seq(
      Filters.checkWordNumber(5, 128),
      Filters.checkCompletion(),
      Filters.checkCharRepetition(10, 0.2),
      Filters.checkLowercaseRatio(0.75))
    val nsfw = if (filterNsfw) Seq(Filters.checkNsfwWords(0.025)) else Nil
    val ppl = if (filterPerplexity)
      Seq(graft.scoring.Perplexity.filter(300, 10000)) else Nil
    base ++ nsfw ++ ppl
  }

  /** get_input_text_filters — utils.py:122-129. */
  val inputTextFilters: Seq[TextFilter] =
    Seq(Filters.checkLowercaseRatio(0.55))

  /** get_truncation_filters — utils.py:132-139. */
  def truncationFilters(splitterToken: String): Seq[TextFilter] =
    Seq(Filters.checkTruncation(splitterToken))
}

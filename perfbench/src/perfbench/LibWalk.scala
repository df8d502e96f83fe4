package perfbench

import graft.Extractor
import graft.lib._
import graft.model.{ExtractionResult, PayloadKind, Turn}

/** Single-thread walk over turns that calls the public `graft.lib`
  * functions in `Extractor.extract` order, under the same gates, with one
  * span per layer call inside one span per turn:
  *
  *   postProcess      only when len(text) > 10
  *   format           always
  *   language         always
  *   structured       only when the formatted text is non-empty
  *   summary          only for status success/partial_success and non-empty text
  *   structureDetect  as summary, and only when formatted != corrected
  *   insights         as summary, and only when len(formatted) > 200
  *   cleanResponse    text, summary and each insight
  *   markdown, classify, spans  always
  *
  * Every walked turn is also run through `Extractor.extract` itself, timed
  * on its own; the walk's result must equal it field for field (a drifted
  * walk counts as a failure), and `coverage` = Σ layer time ÷ extract time
  * shows when `Extractor` gains work the walk does not attribute.
  */
object LibWalk {
  val Layers: Seq[String] = Seq(
    "postProcess", "format", "language", "structured", "summary", "structureDetect",
    "insights", "cleanResponse", "markdown", "classify", "spans")

  final case class Result(metrics: Map[String, Double], turns: Int, mismatches: Int, examples: Seq[String])

  private def walk(tr: Trace, turn: Turn): ExtractionResult = {
    import Extractor._
    def layer[T](name: String)(body: => T): T = { tr.count(s"lib.$name.calls"); tr.span(s"lib.$name")(body) }
    val raw = if (turn.text == null) "" else turn.text
    val kind = PayloadKind.fromTool(turn.tool)
    val corrected =
      if (Py.len(raw) > 10) layer("postProcess")(TextCorrections.postProcessText(raw, kind)) else raw
    val (formatted, structureOfInput) = layer("format")(Formatters.formatTextWithStructure(corrected))
    val lang = layer("language")(Language.detectLanguage(formatted))
    val structured =
      if (formatted.nonEmpty) layer("structured")(InfoExtract.extractOrdered(formatted, kind)) else None
    val status =
      if (Confidence < 30 || Py.len(Py.strip(formatted)) < 5) "poor_quality"
      else if (Confidence < 60) "partial_success"
      else "success"
    var summary = ""
    var structure: String = null
    var insights: Seq[String] = null
    if ((status == "success" || status == "partial_success") && formatted.nonEmpty) {
      summary = layer("summary")(Summarizer.generateSummary(formatted, SummaryLength, SummaryStyle))
      structure =
        if (formatted == corrected) structureOfInput
        else layer("structureDetect")(Formatters.detectDocumentStructure(formatted))
      if (Py.len(formatted) > 200) insights = layer("insights")(Summarizer.extractKeyInsights(formatted))
    }
    val (textClean, summaryClean, insightsClean) = layer("cleanResponse")((
      TextCorrections.cleanResponseText(formatted),
      TextCorrections.cleanResponseText(summary),
      if (insights == null) null else insights.map(TextCorrections.cleanResponseText)))
    val tokens = Py.pySplitWs(textClean).length
    val markdown = layer("markdown")(Markdown.render(
      filename = s"${turn.conv_id}_${turn.turn_idx}", ts = turn.ts, status = status,
      formattedText = formatted, confidence = Confidence, detectedLanguage = lang,
      payloadKind = kind, summaryRaw = summary, insightsRaw = insights,
      documentStructure = structure, structured = structured))
    val (scored, strategy) = layer("classify")(
      (Classify.classifyPayloadKind(raw)._1, Classify.processingStrategy(kind)))
    val spans = layer("spans")(Spans.lineSpans(formatted))
    ExtractionResult(
      conv_id = turn.conv_id, turn_idx = turn.turn_idx, role = turn.role, tool = turn.tool,
      ts = turn.ts, payload_kind = kind, payload_kind_scored = scored,
      processing_strategy = strategy, status = status, text = textClean,
      formatted_text = formatted, confidence = Confidence, detected_language = lang,
      document_structure = structure, summary = summaryClean, key_insights = insightsClean,
      structured_kind = structured.map(_.kind).orNull,
      structured_fields = structured.map(_.fields.toMap).orNull,
      structured_items = structured.map(_.items).orNull,
      structured_headers = structured.map(_.headers).orNull,
      structured_rows = structured.map(_.rows.map(_.toMap)).orNull,
      confidence_level = confidenceLevel(Confidence), markdown = markdown, spans = spans,
      n_chars = Py.len(textClean), n_tokens = tokens)
  }

  /** Walks `turns` once untraced (JIT warm-up), then once traced while
    * timing `Extractor.extract` on each turn in between. */
  def run(tr: Trace, turns: IndexedSeq[Turn]): Result = {
    val warm = new Trace(false)
    turns.foreach { t => walk(warm, t); Extractor.extract(t) }
    val extractNs = new Array[Long](turns.length)
    var mismatches = 0
    val examples = Seq.newBuilder[String]
    var i = 0
    while (i < turns.length) {
      val t = turns(i)
      tr.newTrace()
      val w = tr.span("lib.turn")(walk(tr, t))
      val t0 = System.nanoTime()
      val e = Extractor.extract(t)
      extractNs(i) = System.nanoTime() - t0
      if (w != e) {
        mismatches += 1
        if (mismatches <= 3) examples += s"lib walk differs from Extractor.extract on ${t.conv_id}/${t.turn_idx}"
      }
      i += 1
    }
    val self = tr.selfByName()
    val n = turns.length.toDouble
    val totalExtract = extractNs.sum.toDouble
    val layerNs = Layers.map(l => l -> self.get(s"lib.$l").map(_._1).getOrElse(0L))
    val sorted = extractNs.sorted
    def pct(p: Double): Double = sorted(math.min(sorted.length - 1, (p * sorted.length).toInt)) / 1e3
    val m = Map.newBuilder[String, Double]
    for ((l, ns) <- layerNs) {
      m += s"lib.$l.us_per_turn" -> ns / 1e3 / n
      m += s"lib.$l.calls" -> tr.countOf(s"lib.$l.calls").toDouble
    }
    m += "lib.turn_us_p50" -> pct(0.50)
    m += "lib.turn_us_p99" -> pct(0.99)
    m += "lib.turns_per_s_1thread" -> n / (totalExtract / 1e9)
    m += "lib.coverage" -> layerNs.map(_._2).sum / totalExtract
    Result(m.result(), turns.length, mismatches, examples.result())
  }
}

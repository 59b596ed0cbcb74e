package graft.queries

import org.apache.spark.sql.functions._
import graft.extract.ExtractUdfs
import graft.sources.Tables

/** Extraction-domain pack: the reference's core operators (section
  * association F7, judgment outcome extraction F10-F16, ruling-citation
  * parsing F18/F20) driven over deterministic court-document structure
  * synthesized from the documents table.
  *
  * The synthesis is plain SQL arithmetic, so the DuckDB oracle can
  * construct the EXPECTED extraction output directly — the gate then
  * proves the ordered-fold / marker-scan / regex-parse logic against
  * ground truth, row by row. (The reference validates the same logic
  * with hand-labeled golden fixtures; ExtractorsSpec ports that style.)
  *
  * Scale notes: all three are per-row UDF maps — embarrassingly
  * parallel, no shuffle; generator outputs explode to child tables
  * exactly like the reference's section/citation writers (K3 shape).
  */
object ExtractQueries extends QueryPack {

  /** ONE copy of the x15/x39 UR_Gerichte strict-validation fixture:
    * cases 0/1 extract cleanly, cases 2/3 raise (no marker / two
    * markers via the partial-approval substring quirk).
    */
  private[queries] val urRulingsCase: String =
    """CASE CAST(doc_id % 4 AS INT)
       WHEN 0 THEN 'In concreto Gutheissung der Beschwerde.'
       WHEN 1 THEN 'Abweisung der verwaltungsrechtlichen Klage.'
       WHEN 2 THEN 'Die Kosten trägt der Staat.'
       ELSE 'Teilweise Gutheissung der Beschwerde.' END"""

  /** deterministic synthetic ruling document: paragraphs with section
    * markers + an outcome sentence + a BGE citation
    */
  private val rulingSentence =
    """CASE CAST(doc_id % 3 AS INT)
         WHEN 0 THEN 'Die Beschwerde wird abgewiesen.'
         WHEN 1 THEN 'Die Beschwerde wird gutgeheissen.'
         ELSE 'Die Beschwerde wird teilweise gutgeheissen.' END"""

  def all: Seq[Q] = Seq(

    // ---- F7/F8: ordered-fold section association, spider-dispatched.
    Q("x1_section_split",
      (s, d) => Tables.documents(s, d)
        .withColumn("paras", array(
          concat(lit("Urteil "), col("doc_id").cast("string")),
          lit("Sachverhalt"),
          substring(col("text"), 1, 50),
          lit("Erwägungen"),
          substring(col("text"), 51, 50),
          lit("Demnach erkennt das Gericht"),
          expr(rulingSentence),
          lit("Rechtsmittelbelehrung")))
        .withColumn("secs", ExtractUdfs.splitSections(col("source"), col("paras")))
        .select(col("doc_id"),
          concat_ws("\n", element_at(col("secs"), "facts")).as("facts"),
          concat_ws("\n", element_at(col("secs"), "considerations")).as("considerations"),
          concat_ws("\n", element_at(col("secs"), "rulings")).as("rulings"),
          size(element_at(col("secs"), "header")).cast("bigint").as("n_header_paras")),
      Some(s"""SELECT doc_id,
                'Sachverhalt' || chr(10) || substr(text, 1, 50) AS facts,
                'Erwägungen' || chr(10) || substr(text, 51, 50) AS considerations,
                'Demnach erkennt das Gericht' || chr(10) || $rulingSentence AS rulings,
                cast(1 as bigint) AS n_header_paras
              FROM documents""")),

    // ---- F9: the PORTED per-spider marker corpus drives the section
    // fold — three real spiders (de/fr/it), paragraphs synthesized from
    // each spider's own marker phrases so the oracle can state the
    // expected assignment literally. Proves corpus load + language
    // dispatch + ordered fold end-to-end through the gate.
    Q("x10_spider_sections",
      (s, d) => {
        val spider = expr(
          """CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'CH_BGer'
             WHEN 1 THEN 'GE_Gerichte' ELSE 'TI_Gerichte' END""")
        val lang = expr(
          """CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'de'
             WHEN 1 THEN 'fr' ELSE 'it' END""")
        val paras = expr(
          """CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN array('Urteil des Bundesgerichts', 'Gegenstand',
               'Sachverhalt:', 'Am 1. Januar 2020 erhob X Beschwerde',
               'Erwägungen:', 'Die Beschwerde ist form- und fristgerecht',
               'Demnach erkennt das Bundesgericht', 'Die Beschwerde wird abgewiesen.')
             WHEN 1 THEN array('Arrêt de la Chambre', 'EN FAIT',
               'Le 1er janvier 2020, X a saisi la cour', 'EN DROIT',
               'La cause est recevable', 'PAR CES MOTIFS',
               'rejette le recours', 'Voie de recours')
             ELSE array('Sentenza del Tribunale', 'in fatto:',
               'Il 1. gennaio 2020 X ha inoltrato ricorso', 'in diritto:',
               'Il ricorso è ammissibile', 'Per questi motivi',
               'il ricorso è respinto.', 'Per il Tribunale cantonale amministrativo') END""")
        Tables.documents(s, d)
          .withColumn("secs", ExtractUdfs.splitSectionsLang(spider, lang, paras))
          .select(col("doc_id"),
            concat_ws("\n", element_at(col("secs"), "facts")).as("facts"),
            concat_ws("\n", element_at(col("secs"), "considerations")).as("considerations"),
            concat_ws("\n", element_at(col("secs"), "rulings")).as("rulings"),
            coalesce(size(element_at(col("secs"), "topic")), lit(0))
              .cast("bigint").as("n_topic"),
            coalesce(size(element_at(col("secs"), "footer")), lit(0))
              .cast("bigint").as("n_footer"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 'Sachverhalt:' || chr(10) || 'Am 1. Januar 2020 erhob X Beschwerde'
                  WHEN 1 THEN 'EN FAIT' || chr(10) || 'Le 1er janvier 2020, X a saisi la cour'
                  ELSE 'in fatto:' || chr(10) || 'Il 1. gennaio 2020 X ha inoltrato ricorso' END AS facts,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 'Erwägungen:' || chr(10) || 'Die Beschwerde ist form- und fristgerecht'
                  WHEN 1 THEN 'EN DROIT' || chr(10) || 'La cause est recevable'
                  ELSE 'in diritto:' || chr(10) || 'Il ricorso è ammissibile' END AS considerations,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 'Demnach erkennt das Bundesgericht' || chr(10) || 'Die Beschwerde wird abgewiesen.'
                  WHEN 1 THEN 'PAR CES MOTIFS' || chr(10) || 'rejette le recours'
                  ELSE 'Per questi motivi' || chr(10) || 'il ricorso è respinto.' END AS rulings,
                CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 ELSE 0 END AS BIGINT) AS n_topic,
                CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 0 ELSE 1 END AS BIGINT) AS n_footer
              FROM documents""")),

    // ---- F9 full-corpus gate: EVERY ported (spider, language) pair — all
    // 45 spiders, 70 tables — drives the section fold on a document
    // synthesized from its own marker witnesses (MarkerSweep). Expected
    // assignment is known by construction, so the oracle is a literal
    // VALUES table; nothing on the oracle side runs the fold. Upgrades the
    // corpus (section_splitting_functions.py:53-1523) from spec-swept to
    // oracle-gated.
    Q("x19_spider_sweep",
      (s, d) => {
        import graft.extract.MarkerSweep
        import s.implicits._
        val df = s.createDataset(MarkerSweep.rows.map(r => (r.spider, r.lang, r.paras)))
          .toDF("spider", "lang", "paras")
        df.withColumn("secs",
            ExtractUdfs.splitSectionsLang(col("spider"), col("lang"), col("paras")))
          .select(col("spider") +: col("lang") +:
            graft.extract.Extractors.sectionOrder.map(sec =>
              concat_ws("\n", element_at(col("secs"), sec)).as(sec)): _*)
      },
      Some(graft.extract.MarkerSweep.oracleSql)),

    // ---- F10-F16: outcome markers, partial_* suppression, binary label.
    Q("x2_judgment_extract",
      (s, d) => Tables.documents(s, d)
        .withColumn("rulings", expr(rulingSentence))
        .withColumn("outcomes", ExtractUdfs.judgments(col("rulings")))
        .select(col("doc_id"),
          array_join(col("outcomes"), ",").as("outcomes"),
          ExtractUdfs.binaryJudgment(col("outcomes")).as("binary_judgment")),
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'dismissal'
                     WHEN 1 THEN 'approval' ELSE 'partial_approval' END AS outcomes,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'dismissal'
                     ELSE 'approval' END AS binary_judgment
              FROM documents""")),

    // ---- F3: per-spider HTML cleaning — three real spiders' DOM
    // surgery (keep-subtree / decompose-headers / drop-tables) around
    // the same body text, so the oracle is one expression: whatever
    // wrapper the spider gets, only the body survives.
    Q("x12_html_clean",
      (s, d) => {
        val spider = expr(
          """CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'CH_BGer'
             WHEN 1 THEN 'AG_Gerichte' ELSE 'VD_FindInfo' END""")
        val html = expr(
          """CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN '<div class="nav">Menü Suche</div><div class="content">'
               || substr(text, 1, 40) || '</div><div class="footer">Impressum</div>'
             WHEN 1 THEN '<div class="header">Obergericht</div><p>'
               || substr(text, 1, 40) || '</p>'
             ELSE '<table><tr><td>Logo Tribunal</td></tr></table><p>'
               || substr(text, 1, 40) || '</p>' END""")
        Tables.documents(s, d)
          .select(col("doc_id"), ExtractUdfs.cleanHtml(spider, html).as("cleaned"))
      },
      Some("""SELECT doc_id,
                trim(regexp_replace(substr(text, 1, 40), '\s+', ' ', 'g')) AS cleaned
              FROM documents""")),

    // ---- S4 hostile-HTML robustness: the malformed shapes real
    // scraped court HTML contains — unclosed p/div, an unterminated
    // attribute quote mid-document (must be dropped, never leaked into
    // the text), quote-dropping table cells healed by implied sibling
    // closes, and a CDATA body with an embedded '>' — through the
    // per-spider cleaning pipeline. Oracle states the surviving text
    // literally per case.
    Q("x20_malformed_html",
      (s, d) => {
        val spider = expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'CH_BGer' WHEN 1 THEN 'CH_BGer'
             WHEN 2 THEN 'AG_Gerichte' ELSE 'XX_Unknown' END""")
        val html = expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN '<div class="nav">Menü Suche</div><div class="content"><p>'
               || substr(text, 1, 40)
             WHEN 1 THEN '<div class="content"><p>' || substr(text, 1, 40)
               || ' <span class="x>Ende</div>'
             WHEN 2 THEN '<div class="header">Obergericht</div><table><tr><td>'
               || substr(text, 1, 40) || '<td>Ende</table>'
             ELSE '<p>' || substr(text, 1, 40)
               || '<p><![CDATA[Original > Kopie]]>' END""")
        Tables.documents(s, d)
          .select(col("doc_id"), ExtractUdfs.cleanHtml(spider, html).as("cleaned"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN trim(regexp_replace(substr(text, 1, 40), '\s+', ' ', 'g'))
                  WHEN 1 THEN trim(regexp_replace(substr(text, 1, 40) || ' Ende', '\s+', ' ', 'g'))
                  WHEN 2 THEN trim(regexp_replace(substr(text, 1, 40) || ' Ende', '\s+', ' ', 'g'))
                  ELSE trim(regexp_replace(substr(text, 1, 40) || ' Original > Kopie', '\s+', ' ', 'g'))
                END AS cleaned
              FROM documents""")),

    // ---- F2: per-spider PDF regex cleaning with the PORTED rule data
    // (ZH_Obergericht's page-number rule), oracle restates the same
    // regex + the general whitespace cleanup.
    Q("x13_pdf_clean",
      (s, d) => Tables.documents(s, d)
        .withColumn("raw", concat(lit("Urteil - 3 - "), substring(col("text"), 1, 40),
          lit(" - 12 - Ende")))
        .select(col("doc_id"), ExtractUdfs.cleanPdf(lit("ZH_Obergericht"), col("raw")).as("cleaned")),
      Some("""SELECT doc_id,
                trim(regexp_replace(regexp_replace(
                  'Urteil - 3 - ' || substr(text, 1, 40) || ' - 12 - Ende',
                  '-\s+\d+\s+-', '', 'g'), '\s+', ' ', 'g')) AS cleaned
              FROM documents""")),

    // ---- F11/F14: numbered-ruling judgment search — the outcome is
    // decided by the FIRST clause that names one; later clauses cannot
    // leak in; arabic clause boundaries with a roman-numeral retry.
    Q("x11_numbered_judgment",
      (s, d) => {
        val rulings = expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN '1. Die Beschwerde wird abgewiesen. 2. Die Kosten trägt der Beschwerdeführer.'
             WHEN 1 THEN '1. Die Beschwerde wird gutgeheissen. 2. Der angefochtene Entscheid wird aufgehoben.'
             WHEN 2 THEN '1. Das Gesuch wird abgeschrieben. 2. Die Beschwerde wird abgewiesen.'
             ELSE 'I. In teilweiser Gutheissung wird das Urteil geändert. II. Im Übrigen wird die Beschwerde abgewiesen.' END""")
        Tables.documents(s, d)
          .withColumn("outcomes_arr", ExtractUdfs.judgmentsLang(rulings, lit("de")))
          .select(col("doc_id"),
            array_join(col("outcomes_arr"), ",").as("outcomes"),
            ExtractUdfs.binaryJudgment(col("outcomes_arr")).as("binary_judgment"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'dismissal'
                     WHEN 1 THEN 'approval' WHEN 2 THEN 'write_off'
                     ELSE 'partial_approval' END AS outcomes,
                CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'dismissal'
                     WHEN 1 THEN 'approval' WHEN 2 THEN NULL
                     ELSE 'approval' END AS binary_judgment
              FROM documents""")),

    // ---- F18/F20: regex citation extraction + roman-book parse,
    // generator output exploded to a child table.
    Q("x3_citation_parse",
      (s, d) => Tables.documents(s, d)
        .withColumn("body", concat(col("text"),
          lit(" Vgl. BGE "), (col("doc_id") % 50 + 100).cast("string"),
          lit(" "), expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'I' WHEN 1 THEN 'II' ELSE 'IV' END"),
          lit(" "), (col("doc_id") % 400 + 1).cast("string"), lit(".")))
        .withColumn("cite", explode(ExtractUdfs.rulingCitations(col("body"))))
        .select(col("doc_id"),
          col("cite.volume").cast("bigint").as("volume"),
          col("cite.book").cast("bigint").as("book"),
          col("cite.page").cast("bigint").as("page")),
      Some("""SELECT doc_id,
                doc_id % 50 + 100 AS volume,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS book,
                doc_id % 400 + 1 AS page
              FROM documents""")),

    // ---- Deterministic ids (§2.9 custom-Expression candidate): native
    // codegen'd uuid3 over (source, doc_id) — the idempotent-key analog
    // of the reference's uuid5(UUID(0), file_name) decision ids.
    Q("x4_deterministic_ids",
      (s, d) => {
        s.sessionState.functionRegistry.registerFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier("uuid3"),
          graft.functions.Uuid3.info, graft.functions.Uuid3.builder)
        Tables.documents(s, d)
          .selectExpr("doc_id",
            "uuid3(concat(source, ':', cast(doc_id as string))) AS uid")
      },
      Some("""WITH h AS (SELECT doc_id,
                md5('graft-namespace!' || source || ':' || doc_id) AS hh
              FROM documents)
              SELECT doc_id,
                substr(hh, 1, 8) || '-' || substr(hh, 9, 4) || '-3' ||
                substr(hh, 14, 3) || '-' ||
                substr('89ab', (CAST(('0x' || substr(hh, 17, 1)) AS INT) % 4) + 1, 1) ||
                substr(hh, 18, 3) || '-' || substr(hh, 21, 12) AS uid
              FROM h""")),

    // ---- F2: data-driven cleaning — an ordered (pattern → replacement)
    // config folded over the text (the reference ships per-spider regex
    // lists in cleaning_regexes.json; patterns are data, not code).
    Q("x5_clean_fold",
      (s, d) => {
        val rules = Seq("\\bthe\\b" -> "<stop>", "[0-9]+" -> "<num>", "  +" -> " ")
        val cleaned = rules.foldLeft(col("text")) {
          case (c, (p, r)) => regexp_replace(c, p, r)
        }
        Tables.documents(s, d).select(col("doc_id"), cleaned.as("cleaned"))
      },
      Some("""SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(text,
                  '\b(the)\b', '<stop>', 'g'), '[0-9]+', '<num>', 'g'),
                  '  +', ' ', 'g') AS cleaned
              FROM documents""")),

    // ---- F24: citation masking in feature text (doc2doc: replace every
    // extracted citation with <ref-ruling> before training).
    Q("x6_citation_mask",
      (s, d) => Tables.documents(s, d)
        .withColumn("body", concat(col("text"),
          lit(" Vgl. BGE "), (col("doc_id") % 50 + 100).cast("string"),
          lit(" "), expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'I' WHEN 1 THEN 'II' ELSE 'IV' END"),
          lit(" "), (col("doc_id") % 400 + 1).cast("string"), lit(".")))
        .select(col("doc_id"),
          regexp_replace(col("body"),
            "(?:BGE|ATF|DTF) \\d{1,3} [IVX]+ \\d{1,3}", "<ref-ruling>").as("masked"),
          size(expr("regexp_extract_all(body, '(?:BGE|ATF|DTF) \\\\d{1,3} [IVX]+ \\\\d{1,3}', 0)"))
            .cast("bigint").as("n_masked")),
      Some("""WITH b AS (SELECT doc_id,
                text || ' Vgl. BGE ' || (doc_id % 50 + 100) || ' ' ||
                (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'I' WHEN 1 THEN 'II' ELSE 'IV' END) ||
                ' ' || (doc_id % 400 + 1) || '.' AS body FROM documents)
              SELECT doc_id,
                regexp_replace(body, '(?:BGE|ATF|DTF) \d{1,3} [IVX]+ \d{1,3}',
                  '<ref-ruling>', 'g') AS masked,
                cast(len(regexp_extract_all(body,
                  '(?:BGE|ATF|DTF) \d{1,3} [IVX]+ \d{1,3}')) as bigint) AS n_masked
              FROM b""")),

    // ---- F31: regeste 3-way split (header / regeste / text) by keyword
    // positions — pure column expressions, no UDF.
    Q("x7_regeste_split",
      (s, d) => Tables.documents(s, d)
        .withColumn("ftext", concat(
          lit("BGE "), (col("doc_id") % 50 + 100).cast("string"),
          lit(" Kopf Regeste "), substring(col("text"), 1, 60),
          lit(" Sachverhalt "), substring(col("text"), 61, 1000)))
        .select(col("doc_id"),
          trim(substring_index(col("ftext"), "Regeste", 1)).as("header"),
          trim(expr(
            "substring(ftext, instr(ftext, 'Regeste') + 8, instr(ftext, 'Sachverhalt') - instr(ftext, 'Regeste') - 8)"))
            .as("regeste"),
          trim(expr("substring(ftext, instr(ftext, 'Sachverhalt') + 12)")).as("body")),
      Some("""WITH f AS (SELECT doc_id,
                'BGE ' || (doc_id % 50 + 100) || ' Kopf Regeste ' || substr(text, 1, 60)
                || ' Sachverhalt ' || substr(text, 61, 1000) AS ftext FROM documents)
              SELECT doc_id,
                trim(substr(ftext, 1, strpos(ftext, 'Regeste') - 1)) AS header,
                trim(substr(ftext, strpos(ftext, 'Regeste') + 8,
                  strpos(ftext, 'Sachverhalt') - strpos(ftext, 'Regeste') - 8)) AS regeste,
                trim(substr(ftext, strpos(ftext, 'Sachverhalt') + 12)) AS body
              FROM f""")),

    // ---- F37: court-composition parse over synthesized headers —
    // role keywords, gender suffixes, president apposition.
    Q("x8_composition",
      (s, d) => Tables.documents(s, d)
        .withColumn("header", concat(
          lit("Besetzung: Bundesrichter Meier"),
          expr("CASE WHEN doc_id % 2 = 0 THEN ', Präsident' ELSE '' END"),
          expr("CASE WHEN doc_id % 3 >= 1 THEN ', Bundesrichterin Huber' ELSE '' END"),
          expr("CASE WHEN doc_id % 3 >= 2 THEN ', Bundesrichter Keller' ELSE '' END"),
          lit(", Gerichtsschreiber"),
          expr("CASE WHEN doc_id % 2 = 0 THEN '' ELSE 'in' END"),
          lit(" S"), col("doc_id").cast("string")))
        .withColumn("comp", ExtractUdfs.composition(col("header")))
        .select(col("doc_id"),
          size(col("comp.judges")).cast("bigint").as("n_judges"),
          col("comp.president.name").as("president"),
          element_at(col("comp.clerks"), 1).getField("name").as("clerk_name"),
          element_at(col("comp.clerks"), 1).getField("gender").as("clerk_gender")),
      Some("""SELECT doc_id,
                doc_id % 3 + 1 AS n_judges,
                CASE WHEN doc_id % 2 = 0 THEN 'Meier' END AS president,
                'S' || doc_id AS clerk_name,
                CASE WHEN doc_id % 2 = 0 THEN 'm' ELSE 'f' END AS clerk_gender
              FROM documents""")),

    // ---- F16: spider-variant judgment extraction (UR_Gerichte) —
    // its own regex table + STRICT validation through the quarantine
    // channel. Case 3 is the faithful reference quirk: the partial
    // marker's text also hits the plain approval regex (substring), so
    // exactly-one validation fails and the row becomes an error row.
    Q("x15_spider_judgment",
      (s, d) => {
        val rulings = expr(urRulingsCase)
        Tables.documents(s, d)
          .withColumn("ext", ExtractUdfs.judgmentsSpiderSafe(
            lit("UR_Gerichte"), rulings, lit("de")))
          .select(col("doc_id"),
            array_join(col("ext.outcomes"), ",").as("outcomes"),
            col("ext.error").isNotNull.as("quarantined"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'approval'
                     WHEN 1 THEN 'dismissal' END AS outcomes,
                CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN false
                     WHEN 1 THEN false ELSE true END AS quarantined
              FROM documents""")),

    // ---- F19: structured-HTML citation extraction — CH_BGer markup
    // (span.artref laws, a.bgeref_id rulings) pulled via the DOM, not
    // regex; a span wrapping nested markup has no solo string and is
    // skipped (bs4 element.string semantics), which the synthesis
    // exercises with a nested <b> every third doc.
    Q("x16_html_citations",
      (s, d) => {
        val html = expr(
          """concat('<div class="content">Gestützt auf ',
             '<span class="artref">Art. ', cast(doc_id % 50 + 1 as string), ' BGG</span>',
             CASE WHEN doc_id % 3 = 0
               THEN '<span class="artref"><b>nested</b> markup</span>' ELSE '' END,
             ' und <a class="bgeref_id" href="/bge/', cast(doc_id % 200 as string),
             '">BGE ', cast(doc_id % 80 + 80 as string), ' II ',
             cast(doc_id % 300 + 1 as string), '</a> wird erkannt.</div>')""")
        Tables.documents(s, d)
          .withColumn("cites", ExtractUdfs.htmlCitations(html))
          .select(col("doc_id"),
            size(col("cites._1")).cast("bigint").as("n_laws"),
            element_at(col("cites._1"), 1).as("law_text"),
            element_at(col("cites._2"), 1).getField("url").as("ruling_url"),
            element_at(col("cites._2"), 1).getField("text").as("ruling_text"))
      },
      Some("""SELECT doc_id,
                cast(1 as bigint) AS n_laws,
                'Art. ' || (doc_id % 50 + 1) || ' BGG' AS law_text,
                '/bge/' || (doc_id % 200) AS ruling_url,
                'BGE ' || (doc_id % 80 + 80) || ' II ' || (doc_id % 300 + 1) AS ruling_text
              FROM documents""")),

    // ---- F39: full lower-court extraction — staged category regexes
    // (court/canton/chamber/date/file-number, last-occurrence with
    // high-prio override) + short-code resolution against the ported
    // court_chambers table. Variants: DE canton path, FR high-prio
    // path, federal path, the faithful unresolvable-federal-court
    // abort, and a no-category-match null.
    Q("x17_lower_court",
      (s, d) => {
        val header = expr(
          """CASE CAST(doc_id % 5 AS INT)
             WHEN 0 THEN 'A. ist X. Beschwerde gegen das Urteil des Obergerichts des Kantons Zürich, II. Zivilkammer, vom 12. März 2019 (LB180001).'
             WHEN 1 THEN 'X. forme un recours contre l''arrêt du Tribunal cantonal du canton de Vaud, Chambre des recours civile, du 1er mars 2019.'
             WHEN 2 THEN 'Gegenstand Haftentlassung, Beschwerde gegen das Urteil des Bundesverwaltungsgerichts vom 5. Oktober 2020.'
             WHEN 3 THEN 'Gegenstand Beschwerde gegen das Urteil des Spezialgerichts vom 3. Januar 2021.'
             ELSE 'In Sachen niemand.' END""")
        Tables.documents(s, d)
          .withColumn("lc", ExtractUdfs.lowerCourt(header))
          .select(col("doc_id"),
            col("lc.court").as("lc_court"),
            col("lc.canton").as("lc_canton"),
            col("lc.chamber").as("lc_chamber"),
            col("lc.date").as("lc_date"),
            col("lc.fileNumber").as("lc_file"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'ZH_OG' WHEN 1 THEN 'VD_TC'
                     WHEN 2 THEN 'CH_BVGE' END AS lc_court,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'ZH' WHEN 1 THEN 'VD'
                     WHEN 2 THEN 'CH' END AS lc_canton,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'ZH_OG_001'
                     WHEN 1 THEN 'VD_TC_010' END AS lc_chamber,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN '2019-03-12' WHEN 1 THEN '2019-03-01'
                     WHEN 2 THEN '2020-10-05' END AS lc_date,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'LB180001' END AS lc_file
              FROM documents""")),

    // ---- F37 spider variants: per-spider composition configs (header
    // slice + role vocabulary) dispatched on the spider column; the
    // oracle reconstructs the expected president/judges/clerk fields
    // per spider shape. Covers presiding-role presidents, Mitglied
    // unknown-gender judges, and start-marker consumption.
    Q("x18_spider_composition",
      (s, d) => {
        val spider = expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'ZH_Obergericht' WHEN 1 THEN 'ZH_Steuerrekurs'
             WHEN 2 THEN 'ZG_Verwaltungsgericht'
             ELSE 'ZH_Verwaltungsgericht' END""")
        val header = expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN concat('Obergericht des Kantons Zürich Mitwirkend: Oberrichter A. Meier, Vorsitzender, Oberrichterin B. Huber, Gerichtsschreiber C', CAST(doc_id AS STRING), ' Beschluss vom 5. Mai 2019 in Sachen X gegen Y')
             WHEN 1 THEN concat('Steuerrekursgericht Mitwirkend Abteilungspräsident Hans Mäder, Ersatzmitglied Clara Muster und Gerichtsschreiberin S', CAST(doc_id AS STRING), ' In Sachen A gegen B')
             WHEN 2 THEN concat('Verwaltungsgericht des Kantons Zug Mitwirkende Richter Adrian Will, Richterin Ines Stocker, Gerichtsschreiber P', CAST(doc_id AS STRING), ' Urteil vom 1. Juni 2020')
             ELSE concat('Verwaltungsgericht des Kantons Zürich Mitwirkend: Abteilungspräsident Rico Steiner, Verwaltungsrichterin Lea Koch, Gerichtsschreiber M', CAST(doc_id AS STRING), ' In Sachen A gegen B') END""")
        Tables.documents(s, d)
          .withColumn("comp", ExtractUdfs.compositionSpider(spider, header))
          .select(col("doc_id"),
            size(col("comp.judges")).cast("bigint").as("n_judges"),
            col("comp.president.name").as("president"),
            element_at(col("comp.judges"), 2).getField("gender").as("judge2_gender"),
            element_at(col("comp.clerks"), 1).getField("name").as("clerk_name"),
            element_at(col("comp.clerks"), 1).getField("gender").as("clerk_gender"))
      },
      Some("""SELECT doc_id,
                cast(2 as bigint) AS n_judges,
                CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'A. Meier'
                     WHEN 1 THEN 'Hans Mäder' WHEN 3 THEN 'Rico Steiner' END AS president,
                CASE CAST(doc_id % 4 AS INT) WHEN 1 THEN NULL ELSE 'f' END AS judge2_gender,
                CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'C' || doc_id
                     WHEN 1 THEN 'S' || doc_id WHEN 2 THEN 'P' || doc_id
                     ELSE 'M' || doc_id END AS clerk_name,
                CASE CAST(doc_id % 4 AS INT) WHEN 1 THEN 'f' ELSE 'm' END AS clerk_gender
              FROM documents""")),

    // ---- F38 spider variants: per-spider procedural-participation
    // configs (CH_BGer trilingual + the ZG/ZH shared config) dispatched
    // on the spider column — every configured spider covered, plus the
    // reference's quarantine paths (malformed header → null). Expected
    // values are known by construction (traced from the reference's
    // own golden vectors where they exist), so the oracle is a literal
    // VALUES table; nothing on the oracle side runs the parse.
    Q("x21_spider_participation",
      (s, d) => {
        import s.implicits._
        val fixtures = Seq(
          (1, "CH_BGer", "de", "Verfahrensbeteiligte, A._, Beschwerdeführer, vertreten durch Rechtsanwalt Dr. Hans Muster, gegen, B._ AG, Beschwerdegegnerin, Gegenstand, Forderung"),
          (2, "CH_BGer", "fr", "Participants à la procédure, X._, recourante, représentée par Me Jeanne Dupont, contre, Office cantonal, intimé, Objet, assurance"),
          (3, "CH_BGer", "it", "Partecipanti al procedimento, A._, ricorrente, patrocinato dall'avv. Mario Rossi, contro, Stato del Cantone Ticino, Oggetto, ricorso"),
          (4, "CH_BGer", "de", "in Sachen, 1. A._, 2. B._, Beschwerdeführer, gegen, C._ AG, Beschwerdegegnerin, Gegenstand, Vertrag"),
          (5, "ZG_Verwaltungsgericht", "de", "in Sachen, A._ Beschwerdeführer vertreten durch B._ AG, gegen, Ausgleichskasse Zug, Baarerstrasse 11, Postfach, 6302 Zug Beschwerdegegnerin, betreffend, Ergänzungsleistungen (hypothetisches Erwerbseinkommen)"),
          (6, "ZH_Steuerrekurs", "de", "In Sachen, 1. A, 2. B,, Beschwerdeführer/ Rekurrenten, vertreten durch C AG,, gegen, 1. Schw eizer ische E idgenossenschaf t , Beschwerdegegnerin, 2. Staat Zür ich , Rekursgegner, vertreten durch das kant. Steueramt, Division Konsum, Bändliweg 21, Postfach, 8090 Zürich,"),
          (7, "ZH_Verwaltungsgericht", "de", "In Sachen, A, vertreten durch RA B,, Beschwerdeführerin,, gegen, Migrationsamt des Kantons Zürich,, Beschwerdegegner,, betreffend vorzeitige Erteilung der Niederlassungsbewilligung,"),
          (8, "ZH_Sozialversicherungsgericht", "de", "in Sachen, X._, Beschwerdeführerin, vertreten durch Rechtsanwalt Dr. Kreso Glavas, Advokatur Glavas AG, Markusstrasse 10, 8006 Zürich, gegen, Sozialversicherungsanstalt des Kantons Zürich, IV-Stelle, Röntgenstrasse 17, Postfach, 8087 Zürich, Beschwerdegegnerin, weitere Verfahrensbeteiligte:, Personalvorsorgestiftung der Y._, Beigeladene"),
          (9, "ZH_Baurekurs", "de", "in Sachen Rekurrentin, V. L. [...], vertreten durch [...], gegen Rekursgegnerschaft, 1. Baubehörde X 2. M. I. und K. I.-L. [...], Nr. 2 vertreten durch [...]"),
          (10, "ZH_Obergericht", "de", "in Sachen, A._, Kläger, vertreten durch Rechtsanwalt lic. iur. W._, gegen, 1. B._, 2. C._-Stiftung, 3. D._, Beklagte, 1 vertreten durch Rechtsanwalt Dr. iur. X._, 2 vertreten durch Rechtsanwältin Dr. iur. Y._"),
          (11, "CH_BGer", "de", "Verfahrensbeteiligte, A._, Beschwerdeführer, Gegenstand, Klage"))
        val p1 = expr("try_element_at(part.plaintiffs, 1)")
        val pc1 = expr("try_element_at(try_element_at(part.plaintiffs, 1).counsel, 1)")
        val d1 = expr("try_element_at(part.defendants, 1)")
        val dc1 = expr("try_element_at(try_element_at(part.defendants, 1).counsel, 1)")
        s.createDataset(fixtures).toDF("case_id", "spider", "lang", "header")
          .withColumn("part", ExtractUdfs.participationSpider(
            col("spider"), col("lang"), col("header")))
          .select(
            col("case_id").cast("bigint").as("case_id"),
            col("spider"),
            col("part").isNull.as("quarantined"),
            when(col("part").isNull, lit(null))
              .otherwise(size(col("part.plaintiffs"))).cast("bigint").as("n_plaintiffs"),
            p1.getField("name").as("p_name"),
            p1.getField("gender").as("p_gender"),
            p1.getField("legalType").as("p_type"),
            pc1.getField("name").as("pc_name"),
            pc1.getField("gender").as("pc_gender"),
            pc1.getField("legalType").as("pc_type"),
            array_join(pc1.getField("titles"), ",").as("pc_titles"),
            when(col("part").isNull, lit(null))
              .otherwise(size(col("part.defendants"))).cast("bigint").as("n_defendants"),
            d1.getField("name").as("d_name"),
            d1.getField("legalType").as("d_type"),
            dc1.getField("name").as("dc_name"))
      },
      Some("""SELECT case_id::BIGINT AS case_id, spider, quarantined,
                n_plaintiffs::BIGINT AS n_plaintiffs, p_name, p_gender, p_type,
                pc_name, pc_gender, pc_type, pc_titles,
                n_defendants::BIGINT AS n_defendants, d_name, d_type, dc_name
              FROM (VALUES
                (1, 'CH_BGer', false, 1, 'A._', 'm', 'natural person', ' Dr. Hans Muster', 'm', 'natural person', '', 1, 'B._ AG', 'legal entity', NULL),
                (2, 'CH_BGer', false, 1, 'X._', 'f', 'natural person', ' Jeanne Dupont', NULL, 'natural person', '', 1, 'Office cantonal', 'legal entity', NULL),
                (3, 'CH_BGer', false, 1, 'A._', NULL, 'natural person', 'Mario Rossi', NULL, 'natural person', '', 1, 'Stato del Cantone Ticino', 'legal entity', NULL),
                (4, 'CH_BGer', false, 2, 'A._', NULL, 'natural person', NULL, NULL, NULL, NULL, 1, 'C._ AG', 'legal entity', NULL),
                (5, 'ZG_Verwaltungsgericht', false, 1, 'A._', 'm', 'natural person', 'B._ AG', NULL, 'legal entity', '', 1, 'Ausgleichskasse Zug', 'legal entity', NULL),
                (6, 'ZH_Steuerrekurs', false, 2, 'A', NULL, 'legal entity', 'C AG', NULL, 'legal entity', '', 2, 'Schw eizer ische E idgenossenschaf t', 'legal entity', 'Steueramt'),
                (7, 'ZH_Verwaltungsgericht', false, 1, 'A', NULL, 'legal entity', 'B', NULL, 'natural person', '', 1, 'Migrationsamt des Kantons Zürich', 'legal entity', NULL),
                (8, 'ZH_Sozialversicherungsgericht', false, 1, 'X._', 'f', 'natural person', 'Kreso Glavas', 'm', 'natural person', 'Dr.', 1, 'Sozialversicherungsanstalt des Kantons Zürich', 'legal entity', NULL),
                (9, 'ZH_Baurekurs', false, 1, 'Rekurrentin', NULL, 'legal entity', NULL, NULL, NULL, NULL, 1, 'Rekursgegnerschaft', 'legal entity', NULL),
                (10, 'ZH_Obergericht', false, 1, 'A._', NULL, 'natural person', 'W._', 'm', 'natural person', 'lic.,iur.', 3, 'B._', 'natural person', 'X._'),
                (11, 'CH_BGer', true, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
              ) AS t(case_id, spider, quarantined, n_plaintiffs, p_name, p_gender, p_type,
                     pc_name, pc_gender, pc_type, pc_titles, n_defendants, d_name, d_type, dc_name)""")),

    // ---- §3.1 end-to-end gate: a REAL landing corpus (json+html+pdf
    // triples written to a scratch dir, the m3/x1 constructions
    // composed) through the actual pipeline stages — ingest (binary
    // scan, PDF native decode / HTML DOM paragraphs, F4 preference,
    // clean, min-chars gate, language ID) → CH_BGer section fold →
    // judgment extraction + citation child table — joined back to one
    // wide row per surviving document, now including the spider-
    // dispatched participation (F38) and lower-court (F39) stages.
    // Every value is known by construction, so the oracle is a literal
    // VALUES table; rows traverse 8 stages, proving the stages COMPOSE
    // (each is also gated in isolation: m3, x1/x10, x2, x3, x21, x17).
    Q("x22_pipeline_e2e",
      (s, d) => {
        import java.nio.file.Files
        // fresh dir per run: a fixed shared path would let stale files
        // from an older fixture set (or a concurrent driver) leak into
        // the corpus under test; fixture CONTENT stays deterministic
        val dir = Scratch.dir("graft_x22_landing_")
        def facts(i: Int) =
          s"Am ${i + 1}. Januar 2020 erhob die Partei Beschwerde gegen den angefochtenen Entscheid."
        def cons(i: Int) = i match {
          case 1 => "Die Beschwerde ist zulässig. Vgl. BGE 121 II 32 und BGE 130 IV 5."
          case 4 => "Die Beschwerde ist zulässig und wird materiell geprüft."
          case _ => s"Die Beschwerde ist form- und fristgerecht. Vgl. BGE ${120 + i} II ${31 + i}."
        }
        def ruling(i: Int) = i match {
          case 0 | 2 => "Die Beschwerde wird abgewiesen."
          case 4     => "Die Beschwerde wird teilweise gutgeheissen."
          case _     => "Die Beschwerde wird gutgeheissen."
        }
        val partyLine =
          "Verfahrensbeteiligte A._, Beschwerdeführer, vertreten durch Rechtsanwalt Dr. Hans Muster, gegen, B._ AG, Beschwerdegegnerin"
        val topicLine =
          "Gegenstand Beschwerde gegen das Urteil des Obergerichts des Kantons Zürich, II. Zivilkammer, vom 12. März 2019 (LB180001)."
        def paras(i: Int) = Seq("Urteil des Bundesgerichts", partyLine, topicLine,
          "Sachverhalt:", facts(i), "Erwägungen:", cons(i),
          "Demnach erkennt das Bundesgericht", ruling(i))
        def html(i: Int) = ("<html><body>" +
          paras(i).map(p => s"<p>$p</p>").mkString + "</body></html>")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        def pdf(i: Int, filters: Seq[String]) =
          graft.sources.PdfText.synthesize(paras(i).mkString("\n"), filters)
        for (i <- 0 to 5)
          Files.write(dir.resolve(s"d$i.json"),
            s"""{"id":"d$i"}""".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Files.write(dir.resolve("d0.pdf"), pdf(0, Seq.empty))
        Files.write(dir.resolve("d1.html"), html(1))
        Files.write(dir.resolve("d2.html"), html(2))
        // d2 also ships a DECOY pdf — the F4 preference must pick html
        Files.write(dir.resolve("d2.pdf"), graft.sources.PdfText.synthesize(
          "PDF Variante die nicht gewinnen darf", Seq.empty))
        Files.write(dir.resolve("d3.pdf"), pdf(3, Seq("FlateDecode")))
        Files.write(dir.resolve("d4.html"), html(4))
        // d5 is under the min-chars ingest gate → must NOT surface
        Files.write(dir.resolve("d5.html"),
          "<p>Kurz</p>".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        import graft.pipeline.CorpusPipeline
        val docs = CorpusPipeline.ingest(s, dir.toString)
        val sect = CorpusPipeline.splitSections(docs, "CH_BGer")
        val jd = CorpusPipeline.judgments(sect)
        val part = CorpusPipeline.participations(sect, "CH_BGer")
        val lc = CorpusPipeline.lowerCourts(sect)
        val cit = CorpusPipeline.citations(sect)
          .groupBy("decision_id")
          .agg(count(lit(1)).as("n_cites"),
            min(col("volume")).cast("bigint").as("cite_volume"))
        docs.select("decision_id", "stem", "lang")
          .join(sect.drop("lang", "topic"), Seq("decision_id"))
          .join(jd, Seq("decision_id"))
          .join(part, Seq("decision_id"))
          .join(lc, Seq("decision_id"))
          .join(cit, Seq("decision_id"), "left")
          .select(col("stem"), col("lang"), col("header"), col("facts"),
            col("considerations"), col("rulings"),
            array_join(col("outcomes"), ",").as("outcomes"),
            coalesce(col("n_cites"), lit(0L)).cast("bigint").as("n_cites"),
            col("cite_volume"),
            expr("try_element_at(plaintiffs, 1).name").as("p1_name"),
            expr("try_element_at(plaintiffs, 1).gender").as("p1_gender"),
            expr("try_element_at(try_element_at(plaintiffs, 1).counsel, 1).name").as("pc1_name"),
            expr("try_element_at(defendants, 1).name").as("d1_name"),
            col("court").as("lc_court"),
            col("file_number").as("lc_file"))
      },
      Some("""SELECT stem, lang,
                'Urteil des Bundesgerichts' || chr(10) ||
                'Verfahrensbeteiligte A._, Beschwerdeführer, vertreten durch Rechtsanwalt Dr. Hans Muster, gegen, B._ AG, Beschwerdegegnerin' AS header,
                'Sachverhalt:' || chr(10) || 'Am ' || nr || '. Januar 2020 erhob die Partei Beschwerde gegen den angefochtenen Entscheid.' AS facts,
                'Erwägungen:' || chr(10) || cons AS considerations,
                'Demnach erkennt das Bundesgericht' || chr(10) || ruling AS rulings,
                outcomes, n_cites::BIGINT AS n_cites, cite_volume::BIGINT AS cite_volume,
                'A._' AS p1_name, 'm' AS p1_gender, ' Dr. Hans Muster' AS pc1_name,
                'B._ AG' AS d1_name, 'ZH_OG' AS lc_court, 'LB180001' AS lc_file
              FROM (VALUES
                ('d0', 'de', 1,
                 'Die Beschwerde ist form- und fristgerecht. Vgl. BGE 120 II 31.',
                 'Die Beschwerde wird abgewiesen.', 'dismissal', 1, 120),
                ('d1', 'de', 2,
                 'Die Beschwerde ist zulässig. Vgl. BGE 121 II 32 und BGE 130 IV 5.',
                 'Die Beschwerde wird gutgeheissen.', 'approval', 2, 121),
                ('d2', 'de', 3,
                 'Die Beschwerde ist form- und fristgerecht. Vgl. BGE 122 II 33.',
                 'Die Beschwerde wird abgewiesen.', 'dismissal', 1, 122),
                ('d3', 'de', 4,
                 'Die Beschwerde ist form- und fristgerecht. Vgl. BGE 123 II 34.',
                 'Die Beschwerde wird gutgeheissen.', 'approval', 1, 123),
                ('d4', 'de', 5,
                 'Die Beschwerde ist zulässig und wird materiell geprüft.',
                 'Die Beschwerde wird teilweise gutgeheissen.', 'partial_approval', 0, NULL)
              ) AS t(stem, lang, nr, cons, ruling, outcomes, n_cites, cite_volume)""")),

    // ---- §3.2 end-to-end gate: the flagship JUDGMENT dataset creator
    // (judgment_dataset_creator.py:37-56 over get_df, dataset_creator
    // .py:493-547) composed from RAW child tables in-query — the x22
    // treatment applied to the dataset-creation lifecycle. Wide
    // assembly (J1 dims + J2 aggregate-joins, DecisionJoins.wide) →
    // dropna(judgments) → F15 binary conversion (partials merged,
    // write_off/unification/inadmissible dropped, contradictory →
    // null, make_single_label) → dropna(label) → date-stratified
    // dropna(year) (dataset_creator.py:813-814) → O6 reference year
    // boundaries (:158-159) → A16 label vocabulary ids. The mini
    // corpus is deterministic (FIXTURES.md §1), so every surviving row
    // is known by construction and the oracle states all 29 literally
    // — covering all four splits, both labels, and every drop path
    // (no-judgment, contradictory-partials, NULL-date).
    Q("x25_judgment_dataset_e2e",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val in = graft.relational.DecisionJoins.miniCorpus(s)
        val labeled = graft.relational.DecisionJoins.wide(in)
          .where(col("judgments").isNotNull) // dropna(subset=['judgments'])
          .withColumn("label", graft.extract.ExtractUdfs.binaryJudgment(
            col("judgments.judgment")))
          .where(col("label").isNotNull)  // drop labels emptied by cleaning
          .where(col("year").isNotNull)   // date-stratified needs a year
          .withColumn("split", graft.datasets.DatasetWriter.dateSplit("year"))
        // A16: vocab is tiny by construction — the single-partition
        // window runs over |labels| rows, never the data
        val vocab = labeled.groupBy("label").agg(count(lit(1)).as("n"))
          .withColumn("label_id",
            row_number().over(Window.orderBy("label")).cast("bigint") - 1)
          .select("label", "label_id")
        labeled.join(broadcast(vocab), Seq("label"))
          .select(col("file_id").cast("bigint").as("file_id"),
            col("year").cast("bigint").as("year"),
            col("split"), col("label"), col("label_id"))
      },
      Some("""SELECT file_id::BIGINT AS file_id, year::BIGINT AS year,
                     split, label, label_id::BIGINT AS label_id
              FROM (VALUES
                (1, 2001, 'train', 'approval', 0),
                (2, 2002, 'train', 'approval', 0),
                (3, 2003, 'train', 'dismissal', 1),
                (4, 2004, 'train', 'approval', 0),
                (5, 2005, 'train', 'approval', 0),
                (6, 2006, 'train', 'dismissal', 1),
                (8, 2008, 'train', 'approval', 0),
                (9, 2009, 'train', 'dismissal', 1),
                (10, 2010, 'train', 'approval', 0),
                (12, 2012, 'train', 'dismissal', 1),
                (13, 2013, 'train', 'approval', 0),
                (15, 2015, 'train', 'dismissal', 1),
                (16, 2016, 'validation', 'approval', 0),
                (17, 2017, 'validation', 'approval', 0),
                (18, 2018, 'test', 'dismissal', 1),
                (19, 2019, 'test', 'approval', 0),
                (20, 2020, 'test', 'approval', 0),
                (23, 2023, 'secret_test', 'approval', 0),
                (24, 2000, 'train', 'dismissal', 1),
                (25, 2001, 'train', 'approval', 0),
                (26, 2002, 'train', 'approval', 0),
                (27, 2003, 'train', 'dismissal', 1),
                (29, 2005, 'train', 'approval', 0),
                (30, 2006, 'train', 'dismissal', 1),
                (31, 2007, 'train', 'approval', 0),
                (32, 2008, 'train', 'approval', 0),
                (34, 2010, 'train', 'approval', 0),
                (36, 2012, 'train', 'dismissal', 1),
                (37, 2013, 'train', 'approval', 0)
              ) AS t(file_id, year, split, label, label_id)""")),

    // ---- The judgment creator at SF-SCALING corpus size (x40): x25
    // pins verdict correctness on the 40-row deterministic fixture —
    // by construction SF-invariant, so its enforced sf1 row proves
    // only that no corpus cost leaks in, not that the creator SCALES
    // (VERDICT r11 directive 8: "load-bearing rather than vacuous").
    // This gate runs the SAME creator pipeline — DecisionJoins.wide
    // assembly, dropna(judgments), F15 binary conversion, dropna
    // (label/year), O6 date splits, A16 label vocabulary — over a
    // decision corpus derived 1:1 from the DOCUMENTS table, so the
    // fact tables (decisions, judgments, sections) scale with SF
    // while the dimension catalogs stay the fixed MiniCorpus smalls
    // (dims don't scale in production either; they broadcast). The
    // judgment mix covers every drop path at every SF by modulo
    // construction: %7 no-judgment (dropna), %11 contradictory
    // partials (binary → null), %29 NULL-date (year dropna), %3
    // dismissal, rest approval. The oracle restates the whole chain
    // arithmetically over documents — batch-, join-, and
    // vocab-blind.
    Q("x40_judgment_dataset_scaled",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d).select("doc_id")
        val did = concat(lit("doc_"), col("doc_id"))
        val decisions = docs.select(
          did.as("decision_id"),
          (col("doc_id") % 3 + 1).cast("int").as("language_id"),
          (col("doc_id") % 3 + 1).cast("int").as("chamber_id"),
          col("doc_id").as("file_id"),
          when(col("doc_id") % 29 === 0, lit(null).cast("date"))
            .otherwise(expr("make_date(cast(2000 + doc_id % 24 as int), " +
              "cast(doc_id % 9 + 1 as int), 15)")).as("date"),
          concat(lit("topic_"), col("doc_id") % 4).as("topic"))
        val judgments = docs.select(col("doc_id"),
          expr("""CASE WHEN doc_id % 7 = 0 THEN array()
                  WHEN doc_id % 11 = 0 THEN array(2, 4)
                  WHEN doc_id % 3 = 0 THEN array(3)
                  ELSE array(1) END""").as("jids"))
          .select(explode(col("jids")).as("judgment_id"),
            did.as("decision_id"))
        val sections = docs.select(
          col("doc_id").cast("int").as("section_id"),
          did.as("decision_id"),
          lit(1).as("section_type_id"),
          concat(lit("Sachverhalt zu Dokument "), col("doc_id"))
            .as("section_text"))
        val mini = graft.relational.DecisionJoins.miniCorpus(s)
        val in = mini.copy(decisions = decisions, judgments = judgments,
          sections = sections,
          citations = mini.citations.where(lit(false)),
          fileNumbers = mini.fileNumbers.where(lit(false)),
          parties = mini.parties.where(lit(false)),
          judicialPeople = mini.judicialPeople.where(lit(false)))
        val labeled = graft.relational.DecisionJoins.wide(in)
          .where(col("judgments").isNotNull)
          .withColumn("label", ExtractUdfs.binaryJudgment(
            col("judgments.judgment")))
          .where(col("label").isNotNull)
          .where(col("year").isNotNull)
          .withColumn("split", graft.datasets.DatasetWriter.dateSplit("year"))
        // A16: the vocab window runs over |labels| rows, never the data
        val vocab = labeled.groupBy("label").agg(count(lit(1)).as("n"))
          .withColumn("label_id",
            row_number().over(Window.orderBy("label")).cast("bigint") - 1)
          .select("label", "label_id")
        labeled.join(broadcast(vocab), Seq("label"))
          .select(col("file_id").cast("bigint").as("file_id"),
            col("year").cast("bigint").as("year"),
            col("split"), col("label"), col("label_id"))
      },
      Some("""WITH lab AS (
                SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN NULL
                       WHEN doc_id % 11 = 0 THEN NULL
                       WHEN doc_id % 3 = 0 THEN 'dismissal'
                       ELSE 'approval' END AS label,
                  2000 + doc_id % 24 AS yr
                FROM documents
                WHERE doc_id % 29 <> 0)
              SELECT doc_id::BIGINT AS file_id, yr::BIGINT AS year,
                CASE WHEN yr <= 2015 THEN 'train'
                     WHEN yr <= 2017 THEN 'validation'
                     WHEN yr <= 2022 THEN 'test'
                     ELSE 'secret_test' END AS split,
                label,
                (CASE WHEN label = 'approval' THEN 0 ELSE 1 END)::BIGINT AS label_id
              FROM lab WHERE label IS NOT NULL""")),

    // ---- F23: BGer docket-reference extraction + normalization —
    // all four docket forms (underscore, dot, space, old-register) and
    // the multi-reference join, synthesized per row so the oracle
    // restates the canonical normalized string literally
    // (`bge_reference_extracting_functions.py:14-40`).
    Q("x23_bger_refs",
      (s, d) => {
        val header = expr(
          """CASE CAST(doc_id % 5 AS INT)
             WHEN 0 THEN concat('Urteil 5A_', cast(doc_id % 900 + 100 as string), '/2019 vom 1. Mai 2019')
             WHEN 1 THEN concat('Verfahren 4C.', cast(doc_id % 900 + 100 as string), '/2005 betreffend X')
             WHEN 2 THEN concat('Urteil 1P ', cast(doc_id % 900 + 100 as string), '/2001 der I. Kammer')
             WHEN 3 THEN concat('B ', cast(doc_id % 90 + 10 as string), '/06 und 5A_7/2020 (Vereinigung)')
             ELSE 'Kein Aktenzeichen vorhanden' END""")
        val refsUdf = udf { h: String =>
          graft.extract.Extractors.extractBgerReferences(h).orNull }
        Tables.documents(s, d)
          .withColumn("header", header)
          .select(col("doc_id"), refsUdf(col("header")).as("bger_ref"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN '5A_' || (doc_id % 900 + 100) || '/2019'
                  WHEN 1 THEN '4C_' || (doc_id % 900 + 100) || '/2005'
                  WHEN 2 THEN '1P_' || (doc_id % 900 + 100) || '/2001'
                  WHEN 3 THEN 'B_' || (doc_id % 90 + 10) || '/06-5A_7/2020'
                END AS bger_ref
              FROM documents""")),

    // ---- S7: text side inputs — a `<file_number> <target>` reference
    // list written to a fresh scratch file per run, read through the
    // real side-input reader (blank lines dropped); oracle is the
    // literal content.
    Q("x24_reference_list",
      (s, d) => {
        val f = Scratch.file("graft_x24_", ".txt")
        java.nio.file.Files.writeString(f,
          "5A_1/2019 BGE_120_II_31\n\n4C_2/2005 BGE_121_III_44\n  \n1P_3/2001 BGE_99_IA_5\n")
        graft.sources.Ingest.referenceList(s, f.toString)
      },
      Some("""SELECT * FROM (VALUES
                ('5A_1/2019', 'BGE_120_II_31'),
                ('4C_2/2005', 'BGE_121_III_44'),
                ('1P_3/2001', 'BGE_99_IA_5')
              ) AS t(file_number, target)""")),

    // ---- F36: offline gender enrichment — first-name extraction
    // (initials and titles skipped, reference preprocess_names) + the
    // bundled lookup table; unknown surnames stay null like the
    // reference's 'u' bucket.
    Q("x14_gender_enrich",
      (s, d) => {
        val name = expr(
          """CASE CAST(doc_id % 6 AS INT)
             WHEN 0 THEN 'Hans Meier' WHEN 1 THEN 'Anna Keller'
             WHEN 2 THEN 'Dr. Luca Bernasconi' WHEN 3 THEN 'Marie Dubois'
             WHEN 4 THEN 'J. Schneider' ELSE 'Pierre Favre' END""")
        Tables.documents(s, d)
          .withColumn("name", name)
          .select(col("doc_id"),
            ExtractUdfs.firstName(col("name")).as("first_name"),
            ExtractUdfs.genderOfName(col("name")).as("gender"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'Hans'
                     WHEN 1 THEN 'Anna' WHEN 2 THEN 'Luca' WHEN 3 THEN 'Marie'
                     WHEN 4 THEN 'Schneider' ELSE 'Pierre' END AS first_name,
                CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'm'
                     WHEN 1 THEN 'f' WHEN 2 THEN 'm' WHEN 3 THEN 'f'
                     WHEN 4 THEN NULL ELSE 'm' END AS gender
              FROM documents""")),

    // ---- F29: NER BIO labeling — token/label pairs for citation spans;
    // the oracle recomputes token counts with the same tokenizer rule
    // and knows the citation contributes exactly 1 B- and 3 I- tokens.
    Q("x9_ner_bio",
      (s, d) => Tables.documents(s, d)
        .withColumn("body", concat(col("text"),
          lit(" Vgl. BGE "), (col("doc_id") % 50 + 100).cast("string"),
          lit(" II "), (col("doc_id") % 400 + 1).cast("string"), lit(".")))
        .withColumn("bio", ExtractUdfs.nerBioLabels(col("body")))
        .select(col("doc_id"),
          size(col("bio")).cast("bigint").as("n_tokens"),
          size(expr("filter(bio, x -> x._2 = 'B-CITATION')")).cast("bigint").as("n_b"),
          size(expr("filter(bio, x -> x._2 = 'I-CITATION')")).cast("bigint").as("n_i")),
      Some("""WITH b AS (SELECT doc_id,
                text || ' Vgl. BGE ' || (doc_id % 50 + 100) || ' II ' ||
                (doc_id % 400 + 1) || '.' AS body FROM documents)
              SELECT doc_id,
                cast(len(regexp_extract_all(body, '[0-9A-Za-z_]+|[^\s0-9A-Za-z_]'))
                  as bigint) AS n_tokens,
                cast(1 as bigint) AS n_b,
                cast(3 as bigint) AS n_i
              FROM b""")),

    // ---- CONTINUOUS corpus construction, actually streaming (the §3.1
    // stream dual, not its batch shape): file triples land in two waves
    // into a watched dir, CorpusStream.run consumes them through the
    // binaryFile streaming source + foreachBatch + keyed upserts, and
    // the gate oracle-checks the upserted documents⋈judgments read-back.
    // Wave 2 delivers d1's payload LATE (its meta landed in wave 1 — the
    // landing-protocol hazard the stream's design absorbs) plus a new
    // complete triple; both must surface with correct outcomes.
    Q("x35_corpus_stream",
      (s, d) => corpusStreamJoin(s, corpusStreamFixture(s)),
      corpusStreamOracle),

    // ---- Post-stream COMPACTION (K-family maintenance): each of the
    // stream's micro-batches rewrites the buckets it touched in every
    // upsert table; compactUpserted rewrites each whole table to one
    // file per bucket while preserving the __bucket layout (a later
    // upsert must still find its routing dirs). Gate = the same corpus
    // join read from the COMPACTED tables, against the same oracle —
    // row-identical or the compaction corrupted the table.
    Q("x36_stream_compacted",
      (s, d) => {
        // reuse the most recent x35 stream output when the session has
        // one: x36's measured operator is the COMPACTION, not the
        // stream that produced the small files — compaction preserves
        // rows (that is the gate) and is idempotent, so compacting the
        // shared dir in place cannot perturb a later x35 (which always
        // builds fresh dirs). Cold sessions still run the stream.
        val out = streamOutMemo.get(System.identityHashCode(s)) match {
          case Some(dir) if new java.io.File(dir).isDirectory => dir
          case _ => corpusStreamFixture(s)
        }
        // every table a wave lands; compactUpserted skips one the
        // landing removed, or never wrote, because it was left empty
        for (t <- graft.pipeline.CorpusPipeline.waveTableNames)
          graft.sources.Sinks.compactUpserted(s, s"$out/$t")
        corpusStreamJoin(s, out)
      },
      corpusStreamOracle),
  )

  /** Latest completed stream-fixture output root per session (x36 reuse). */
  private val streamOutMemo =
    new scala.collection.concurrent.TrieMap[Int, String]

  /** The x35/x36 stream fixture: two landing waves through
    * CorpusStream.run into bucketed upsert tables; returns the output
    * root. (x35 always runs its own stream — it is the measured
    * operator; x36 reuses the memoized output when present.)
    */
  private[queries] def corpusStreamFixture(s: org.apache.spark.sql.SparkSession): String = {
        import java.nio.file.Files
        import java.nio.charset.StandardCharsets.UTF_8
        val landing = Scratch.dir("graft_x35_landing_")
        val out = Scratch.dir("graft_x35_out_").toString
        val ckpt = Scratch.dir("graft_x35_ck_").toString
        def paras(i: Int, ruling: String) = Seq(
          "Urteil des Bundesgerichts",
          "Verfahrensbeteiligte A._, Beschwerdeführer, gegen, B._ AG, Beschwerdegegnerin",
          "Sachverhalt:",
          s"Am ${i + 1}. Januar 2020 erhob die Partei Beschwerde gegen den angefochtenen Entscheid.",
          "Erwägungen:",
          "Die Beschwerde ist form- und fristgerecht eingereicht worden.",
          "Demnach erkennt das Bundesgericht", ruling)
        def html(i: Int, ruling: String) = ("<html><body>" +
          paras(i, ruling).map(p => s"<p>$p</p>").mkString + "</body></html>").getBytes(UTF_8)
        def put(name: String, bytes: Array[Byte]): Unit =
          { Files.write(landing.resolve(name), bytes); () }
        // wave 1: d0 + d2 complete, d1 meta-only (payload still in flight)
        put("d0.json", """{"id":"d0"}""".getBytes(UTF_8))
        put("d0.html", html(0, "Die Beschwerde wird abgewiesen."))
        put("d1.json", """{"id":"d1"}""".getBytes(UTF_8))
        put("d2.json", """{"id":"d2"}""".getBytes(UTF_8))
        put("d2.html", html(2, "Die Beschwerde wird gutgeheissen."))
        // few-doc batches: 8-way shuffles for the stream's state AND the
        // per-batch pipeline jobs (gates run sequentially, so narrowing
        // the session knob for the stream's lifetime is safe; restored
        // below). A production deployment sizes this to its batch volume.
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        val q = graft.streaming.CorpusStream.run(
          s, landing.toString, out, "CH_BGer", ckpt)
        try {
          q.processAllAvailable()
          // wave 2: d1's late payload re-triggers its stem; d3 is new
          put("d1.html", html(1, "Die Beschwerde wird teilweise gutgeheissen."))
          put("d3.json", """{"id":"d3"}""".getBytes(UTF_8))
          put("d3.html", html(3, "Die Beschwerde wird abgewiesen."))
          q.processAllAvailable()
        } finally {
          q.stop()
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
        }
        streamOutMemo.put(System.identityHashCode(s), out)
        out
  }

  /** documents⋈judgments read-back of a corpus-stream output root */
  private def corpusStreamJoin(s: org.apache.spark.sql.SparkSession,
                               out: String): org.apache.spark.sql.DataFrame =
    graft.sources.Sinks.readUpserted(s, s"$out/documents")
      .select("decision_id", "stem", "lang")
      .join(graft.sources.Sinks.readUpserted(s, s"$out/judgments"),
        Seq("decision_id"))
      .select(col("stem"), col("lang"),
        array_join(col("outcomes"), ",").as("outcomes"))

  private val corpusStreamOracle = Some(
    """SELECT * FROM (VALUES
         ('d0', 'de', 'dismissal'),
         ('d1', 'de', 'partial_approval'),
         ('d2', 'de', 'approval'),
         ('d3', 'de', 'dismissal')
       ) AS t(stem, lang, outcomes)""")
}

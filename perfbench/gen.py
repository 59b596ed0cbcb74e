"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload corpus_ingest --seed 7 --out DIR

Everything written under DIR is a pure function of (workload, seed,
sizes in workloads.json): the same seed gives byte-identical files, a
different seed gives different ones. The program under test only ever
sees these files; the ground truth the benchmark checks against goes
to DIR/truth.json.

Outputs per workload:
  corpus_ingest   landing/{warmup,wave_NNN}/{stem}.json|.html|.pdf,
                  prior.parquet (historical texts behind the dedup
                  index), export/documents.parquet (the dataset export's
                  input, plus a small warm-up copy), truth.json
  search_serve    documents.parquet, vectors.parquet, requests.json,
                  truth.json
"""

import argparse
import hashlib
import json
import math
import os
import random
import zlib
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# --------------------------------------------------------------- languages

WORDS = {
    "de": """der die das und nicht mit dem den von zu ist sich des auf für
        eine einer eines wird werden wurde durch nach bei aus auch oder
        gericht beschwerde verfahren entscheid vorinstanz kosten antrag
        rechtsanwalt gesetz artikel absatz frist verfügung behörde kanton
        klage parteien urteil vertrag schaden haftung steuer rente
        versicherung arbeitgeber arbeitnehmer mietvertrag eigentum grundstück
        verwaltung bewilligung gemeinde beweis zeuge gutachten sachverhalt
        würdigung willkür gehör anspruch rechtliche begründung vorliegend
        zudem jedoch somit daher allerdings insbesondere hingegen bereits
        gemäss bundesgesetz verordnung massnahme strafe busse freiheitsstrafe
        angeklagte staatsanwaltschaft einsprache rekurs berufung revision
        unterhalt scheidung kinder sorgerecht erbschaft testament schuld
        betreibung konkurs gläubiger schuldner forderung zahlung zinsen
        vorsorge invalidität unfall krankheit arzt abklärung einkommen
        vermögen verwaltungsgericht obergericht bezirksgericht kammer
        erheblich unzulässig zulässig rechtzeitig offensichtlich unbegründet
        prüfung ermessen verletzung verhältnismässigkeit interesse öffentlich
        privat baugesuch zone planung umwelt lärm strasse verkehr fahrzeug""",
    "fr": """le la les et de des du un une est dans pour que qui par sur
        pas avec sont été être cette ces son sa ses au aux ne plus
        tribunal recours procédure décision autorité frais demande avocat
        loi article alinéa délai ordonnance canton action parties arrêt
        contrat dommage responsabilité impôt rente assurance employeur
        employé bail propriété immeuble administration autorisation commune
        preuve témoin expertise faits appréciation arbitraire droit
        prétention motivation espèce toutefois ainsi partant cependant
        notamment en revanche déjà selon fédérale ordonnance mesure peine
        amende privative liberté prévenu ministère public opposition
        appel révision entretien divorce enfants garde succession testament
        dette poursuite faillite créancier débiteur créance paiement
        intérêts prévoyance invalidité accident maladie médecin instruction
        revenu fortune cour cantonale chambre considérable irrecevable
        recevable temps manifestement infondé examen pouvoir violation
        proportionnalité intérêt privé construction zone aménagement
        environnement bruit route circulation véhicule recourant intimé""",
    "it": """il lo la gli le e di del della dei delle un una è per che
        non con sono stato essere questa questo suo sua nel nella al alla
        tribunale ricorso procedura decisione autorità spese domanda
        avvocato legge articolo capoverso termine ordinanza cantone azione
        parti sentenza contratto danno responsabilità imposta rendita
        assicurazione datore lavoratore locazione proprietà fondo
        amministrazione autorizzazione comune prova testimone perizia fatti
        apprezzamento arbitrio diritto pretesa motivazione concreto tuttavia
        pertanto quindi peraltro segnatamente invece già secondo federale
        misura pena multa detentiva imputato ministero pubblico opposizione
        appello revisione mantenimento divorzio figli custodia successione
        debito esecuzione fallimento creditore debitore credito pagamento
        interessi previdenza invalidità infortunio malattia medico reddito
        sostanza corte cantonale camera considerevole inammissibile
        ammissibile tempestivo manifestamente infondato esame potere
        violazione proporzionalità interesse privato costruzione zona
        pianificazione ambiente rumore strada circolazione veicolo
        ricorrente opponente""",
}
WORDS = {k: v.split() for k, v in WORDS.items()}

MONTHS = {
    "de": ["Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
           "August", "September", "Oktober", "November", "Dezember"],
    "fr": ["janvier", "février", "mars", "avril", "mai", "juin", "juillet",
           "août", "septembre", "octobre", "novembre", "décembre"],
    "it": ["gennaio", "febbraio", "marzo", "aprile", "maggio", "giugno",
           "luglio", "agosto", "settembre", "ottobre", "novembre",
           "dicembre"],
}
SURNAMES = ["Meier", "Müller", "Keller", "Huber", "Weber", "Brunner",
            "Frei", "Kunz", "Zünd", "Aubry", "Donzallaz", "Jametti",
            "Merkli", "Seiler", "Haag", "Kneubühler", "Stadelmann"]
# (lang, outcome key) -> the rulings sentence the extractor must label
OUTCOMES = {
    "de": {"dismissal": "Die Beschwerde wird abgewiesen.",
           "approval": "Die Beschwerde wird gutgeheissen.",
           "partial_approval": "Die Beschwerde wird teilweise gutgeheissen."},
    "fr": {"dismissal": "Le recours est rejeté.",
           "approval": "Le recours est admis.",
           "partial_approval": "Le recours est partiellement admis."},
    "it": {"dismissal": "Il ricorso è respinto.",
           "approval": "Il ricorso è accolto.",
           "partial_approval": "Il ricorso è parzialmente accolto."},
}
# de lower courts as (header phrase, expected court code)
LOWER_COURTS = [
    ("des Obergerichts des Kantons Zürich, II. Zivilkammer", "ZH_OG"),
    ("des Obergerichts des Kantons Bern, 1. Strafkammer", "BE_OG"),
    ("des Kantonsgerichts Luzern, 1. Abteilung", "LU_KG"),
]
CITE_PREFIX = {"de": "BGE", "fr": "ATF", "it": "DTF"}
BOOKS = ["I", "II", "III", "IV", "V"]


def load_config():
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as f:
        return json.load(f)


def zipf_weights(n, s):
    return [1.0 / (i + 1) ** s for i in range(n)]


def body_words(rng, lang, n):
    ws = WORDS[lang]
    return [ws[rng.randrange(len(ws))] for _ in range(n)]


def paragraphs_of(words, size=40):
    return [" ".join(words[i:i + size]) for i in range(0, len(words), size)]


def lengths(rng, n, base, cap):
    """n body lengths in words, a floor plus a lognormal tail, taken at
    fixed quantiles and shuffled: every seed gets the same long-tailed
    multiset of lengths, so the seed varies content, not volume"""
    ls = [min(cap, base + int(math.exp(3.5 + NormalDist().inv_cdf((i + 0.5) / n))))
          for i in range(n)]
    rng.shuffle(ls)
    return ls


def shares(rng, n, weighted):
    """n labels in fixed proportions (largest remainder), shuffled"""
    total = sum(w for _, w in weighted)
    counts = [(lab, n * w // total, n * w % total) for lab, w in weighted]
    short = n - sum(c for _, c, _ in counts)
    order = sorted(range(len(counts)), key=lambda i: -counts[i][2])[:short]
    out = []
    for i, (lab, c, _) in enumerate(counts):
        out += [lab] * (c + (1 if i in order else 0))
    rng.shuffle(out)
    return out


# ------------------------------------------------------------------ rulings

def make_ruling(rng, lang, nw):
    """one ruling of `nw` body words as a list of paragraphs plus its
    ground truth"""
    outcome = rng.choice(["dismissal", "approval", "partial_approval"])
    n_cites = rng.randrange(0, 4)
    day, month, year = rng.randrange(1, 28), rng.randrange(12), rng.randrange(2005, 2023)
    p, j1, j2, c = rng.sample(SURNAMES, 4)
    date = f"{day}. {MONTHS[lang][month]} {year}" if lang == "de" \
        else f"{day} {MONTHS[lang][month]} {year}"
    lc_phrase, lc_code = rng.choice(LOWER_COURTS)
    fileno = f"{rng.choice(['LB', 'SB', 'VB'])}{rng.randrange(100000, 999999)}"
    words = body_words(rng, lang, nw)
    n_facts = max(20, nw // 3)
    facts = paragraphs_of(words[:n_facts])
    cons = paragraphs_of(words[n_facts:])
    cites = [f"{CITE_PREFIX[lang]} {rng.randrange(100, 150)} "
             f"{rng.choice(BOOKS)} {rng.randrange(1, 999)}" for _ in range(n_cites)]
    for i, ci in enumerate(cites):
        k = i % len(cons)
        cons[k] = cons[k] + f" vgl. {ci} E. {i + 2}."
    if lang == "de":
        head = [f"Urteil vom {date}",
                f"Besetzung Bundesrichter {p}, Präsident, Bundesrichter {j1}, "
                f"Bundesrichter {j2}, Gerichtsschreiber {c}.",
                "Verfahrensbeteiligte A._, Beschwerdeführer, gegen, B._ AG, "
                "Beschwerdegegnerin",
                f"Gegenstand Beschwerde gegen das Urteil {lc_phrase} vom "
                f"{date} ({fileno}).",
                "Sachverhalt:"]
        mid, tail = ["Erwägungen:"], ["Demnach erkennt das Bundesgericht:"]
    elif lang == "fr":
        head = [f"Arrêt du {date}",
                f"Composition MM. les Juges fédéraux {p}, Président, {j1} et "
                f"{j2}. Greffier: M. {c}.",
                "Participants à la procédure A._, recourant, contre B._ SA, intimée",
                "Objet recours contre l'arrêt de la Cour de justice.",
                "Faits:"]
        mid, tail = ["Considérant en droit:"], \
            ["Par ces motifs, le Tribunal fédéral prononce:"]
    else:
        head = [f"Sentenza del {date}",
                f"Composizione Giudici federali {p}, Presidente, {j1} e {j2}, "
                f"Cancelliere {c}.",
                "Parti nel procedimento A._, ricorrente, contro B._ SA, opponente",
                "Oggetto ricorso contro la sentenza del Tribunale d'appello.",
                "Fatti:"]
        mid, tail = ["Diritto:"], ["Per questi motivi, il Tribunale federale pronuncia:"]
    paras = head + facts + mid + cons + tail + [f"1. {OUTCOMES[lang][outcome]}"]
    truth = {"lang": lang, "outcome": outcome, "n_citations": n_cites,
             "lower_court": lc_code if lang == "de" else None}
    return paras, truth


def html_of(paras):
    body = "".join(f"<p>{escape_html(p)}</p>\n" for p in paras)
    return ("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
            "<title>Entscheid</title></head><body>\n" + body + "</body></html>\n")


def escape_html(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


# --------------------------------------------------------------------- PDFs

PAD = bytes([0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
             0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
             0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


def rc4(key, data):
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xff
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xff
        j = (j + s[i]) & 0xff
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xff]
    return bytes(out)


def md5(*parts):
    h = hashlib.md5()
    for p in parts:
        h.update(p)
    return h.digest()


def pdf_content(paras):
    """one BT block per paragraph (Latin-1 literal strings)"""
    lines = []
    for i, p in enumerate(paras):
        esc = p.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        lines.append(f"BT /F1 10 Tf 40 {800 - (i % 60) * 12} Td ({esc}) Tj ET")
    return "\n".join(lines).encode("latin-1", errors="replace")


def pdf_of(paras, kind, ident):
    """kind: plain | flate | rc4 (V2/R3 RC4-128, empty user password)"""
    content = pdf_content(paras)
    extra, trailer_extra = "", ""
    if kind == "flate":
        content = zlib.compress(content, 6)
        extra = " /Filter /FlateDecode"
    if kind == "rc4":
        content = zlib.compress(content, 6)
        extra = " /Filter /FlateDecode"
        id0 = md5(ident.encode())
        p = -4
        k = md5(PAD)
        for _ in range(50):
            k = md5(k)
        o = rc4(k[:16], PAD)
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in k[:16]), o)
        key = md5(PAD, o, p.to_bytes(4, "little", signed=True), id0)[:16]
        for _ in range(50):
            key = md5(key)[:16]
        u = rc4(key, md5(PAD, id0))
        for i in range(1, 20):
            u = rc4(bytes(b ^ i for b in key), u)
        u += bytes(16)
        obj_key = md5(key, (4).to_bytes(3, "little"), (0).to_bytes(2, "little"))[:16]
        content = rc4(obj_key, content)
        trailer_extra = f" /Encrypt 5 0 R /ID [<{id0.hex()}> <{id0.hex()}>]"
    out = bytearray(b"%PDF-1.6\n")
    out += b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
    out += b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
    out += b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
    out += f"4 0 obj << /Length {len(content)}{extra} >>\nstream\n".encode()
    out += content + b"\nendstream\nendobj\n"
    if kind == "rc4":
        out += (f"5 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 /P {p}"
                f" /O <{o.hex()}> /U <{u.hex()}> >> endobj\n").encode()
    out += f"trailer << /Root 1 0 R{trailer_extra} >>\n%%EOF\n".encode()
    return bytes(out)


def hostile_payload(rng, i):
    """files that must be quarantined (no ingestable text), never crash"""
    kind = i % 4
    if kind == 0:   # FlateDecode stream cut after a few bytes
        text = bytes(rng.randrange(97, 123) for _ in range(400))
        z = zlib.compress(b"BT (" + text + b") Tj ET")[:12]
        return "pdf", (b"%PDF-1.4\n4 0 obj << /Length 12 /Filter /FlateDecode >>\n"
                       b"stream\n" + z + b"\nendstream\nendobj\n%%EOF\n")
    if kind == 1:   # random bytes behind a PDF magic
        return "pdf", b"%PDF-1.7\n" + bytes(rng.randrange(256) for _ in range(900))
    if kind == 2:   # markup with no text
        return "html", ("<html><body>" + "<div><span></span></div>" * 50 +
                        "<script>var x = 1;</script></body></html>").encode()
    # unsupported security handler
    return "pdf", (b"%PDF-1.6\n4 0 obj << /Length 8 >>\nstream\n\x01\x02\x03\x04"
                   b"\x05\x06\x07\x08\nendstream\nendobj\n"
                   b"5 0 obj << /Filter /Custom /V 9 /R 9 >> endobj\n"
                   b"trailer << /Encrypt 5 0 R >>\n%%EOF\n")


def near_dup(rng, paras):
    """one body word swapped — a planted near duplicate. Only vocabulary
    words change, so citations, names and dates keep their truth."""
    vocab = {w for ws in WORDS.values() for w in ws}
    out = list(paras)
    idx = [i for i, p in enumerate(out) if len(p.split()) >= 30]
    i = idx[rng.randrange(len(idx))]
    ws = out[i].split()
    cand = [j for j, w in enumerate(ws) if w in vocab]
    j = cand[rng.randrange(len(cand))]
    ws[j] = "zusätzlich" if ws[j] != "zusätzlich" else "ferner"
    out[i] = " ".join(ws)
    return out


def gen_corpus_ingest(rng, cfg, out):
    lang_mix = [("de", 6), ("fr", 3), ("it", 1)]
    pdf_share = 100 - cfg["html_percent"]
    fmt_mix = [("html", 3 * cfg["html_percent"]), ("pdf_plain", pdf_share),
               ("pdf_flate", pdf_share), ("pdf_rc4", pdf_share)]
    base, cap = cfg["min_body_words"], cfg["max_body_words"]

    def rulings(n):
        """n (lang, fmt, paras, truth) in the fixed mix"""
        return [(lang, fmt) + make_ruling(rng, lang, nw) for lang, fmt, nw in
                zip(shares(rng, n, lang_mix), shares(rng, n, fmt_mix),
                    lengths(rng, n, base, cap))]

    history = []       # fresh and dup deliveries of earlier waves
    # historical corpus behind the dedup index (never landed)
    prior_rows = [(f"prior_{i:05d}", r[2]) for i, r in enumerate(rulings(cfg["prior_docs"]))]
    group_of = {}      # stem -> dup group id
    next_group = [0]

    def new_group():
        next_group[0] += 1
        return next_group[0]

    for i, (stem, _) in enumerate(prior_rows):
        group_of[stem] = new_group()
    # warm-up wave: fresh docs only, never a dup source
    warm = [{"stem": f"warm_{i:04d}", "kind": "fresh", "fmt": fmt, "paras": paras,
             "group": new_group(), "truth": None}
            for i, (_, fmt, paras, _) in enumerate(rulings(cfg["warmup_docs"]))]
    fmt, payload = hostile_payload(rng, 0)
    warm.append({"stem": "warm_hostile", "kind": "hostile", "fmt": fmt,
                 "payload": payload})
    waves = []
    n_waves = 1 + cfg["incremental_waves"]
    serial = 0
    for w in range(n_waves):
        size = cfg["backfill_docs"] if w == 0 else cfg["wave_docs"]
        plan = []
        n_hostile = cfg["hostile_per_wave"]
        n_dup = cfg["dups_per_wave"]
        n_redeliver = cfg["redeliveries_per_wave"] if w > 0 else 0
        n_fresh = size - n_hostile - n_dup - n_redeliver
        plan += ["fresh"] * n_fresh + ["hostile"] * n_hostile
        plan += ["dup"] * n_dup + ["redeliver"] * n_redeliver
        rng.shuffle(plan)
        fresh = rulings(n_fresh)
        wave = []
        redelivered = set()
        for kind in plan:
            serial += 1
            stem = f"w{w:03d}_{serial:06d}"
            if kind == "hostile":
                fmt, payload = hostile_payload(rng, serial)
                wave.append({"stem": stem, "kind": "hostile", "fmt": fmt,
                             "payload": payload})
                continue
            if kind == "redeliver":
                cands = [h for h in history if h["stem"] not in redelivered]
                h = cands[rng.randrange(len(cands))]
                redelivered.add(h["stem"])
                wave.append(dict(h, kind="redelivery"))
                continue
            if kind == "dup":
                # source: the historical corpus or an earlier HTML doc
                # (same format, so the extracted words match exactly)
                srcs = [h for h in history if h["fmt"] == "html"]
                if srcs and rng.random() < 0.6:
                    src = srcs[rng.randrange(len(srcs))]
                    sparas, sgroup, struth = src["paras"], src["group"], src["truth"]
                else:
                    pstem, sparas = prior_rows[rng.randrange(len(prior_rows))]
                    sgroup, struth = group_of[pstem], None
                paras = sparas if rng.random() < 0.5 else near_dup(rng, sparas)
                d = {"stem": stem, "kind": "dup", "fmt": "html", "paras": paras,
                     "group": sgroup, "truth": struth}
                wave.append(d)
                continue
            _, fmt, paras, truth = fresh.pop()
            wave.append({"stem": stem, "kind": "fresh", "fmt": fmt, "paras": paras,
                         "group": new_group(), "truth": truth})
        for d in wave:
            if d["kind"] in ("fresh", "dup"):
                history.append(d)
        waves.append(wave)

    land = os.path.join(out, "landing")
    truth_docs = []
    for w, wave in [(-1, warm)] + list(enumerate(waves)):
        wdir = os.path.join(land, "warmup" if w < 0 else f"wave_{w:03d}")
        os.makedirs(wdir)
        for d in wave:
            stem = d["stem"]
            meta = {"id": stem, "spider": "CH_BGer", "wave": w}
            write(os.path.join(wdir, stem + ".json"), json.dumps(meta).encode())
            if d["kind"] == "hostile":
                write(os.path.join(wdir, f"{stem}.{d['fmt']}"), d["payload"])
                if w >= 0:
                    truth_docs.append({"stem": stem, "wave": w, "kind": "hostile"})
                continue
            fmt = d["fmt"]
            if fmt == "html":
                write(os.path.join(wdir, stem + ".html"), html_of(d["paras"]).encode())
            else:
                write(os.path.join(wdir, stem + ".pdf"),
                      pdf_of(d["paras"], fmt[4:], stem))
            if w < 0:
                continue
            t = {"stem": stem, "wave": w, "kind": d["kind"], "fmt": fmt,
                 "group": d["group"]}
            # a dup carries its source's rulings, so its truth is the
            # source's; dups of the historical corpus have none recorded
            if d["truth"] is not None:
                t.update(d["truth"])
            truth_docs.append(t)
    pq.write_table(pa.table({
        "decision_id": [s for s, _ in prior_rows],
        "text": ["\n".join(p) for _, p in prior_rows]}),
        os.path.join(out, "prior.parquet"), compression="snappy")
    # the documents table the dataset export reads
    exp = os.path.join(out, "export")
    os.makedirs(os.path.join(exp, "warmup"))
    gen_documents(rng, cfg["export"], exp)
    gen_documents(rng, dict(cfg["export"], docs=cfg["export"]["warmup_docs"]),
                  os.path.join(exp, "warmup"))
    return {"workload": "corpus_ingest", "waves": n_waves, "docs": truth_docs}


# ---------------------------------------------------------- documents table

def gen_documents(rng, cfg, out):
    n = cfg["docs"]
    ids = sorted(rng.sample(range(cfg["docs"] * 8), n))
    langs = shares(rng, n, [("de", 3), ("fr", 2), ("it", 1)])
    sources = shares(rng, n, [(f"src{i}", 1) for i in range(5)])
    texts = [" ".join(body_words(rng, lang, nw)) for lang, nw in
             zip(langs, lengths(rng, n, cfg["min_words"], cfg["max_words"]))]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out, "documents.parquet"), compression="snappy")
    return ids, texts


def gen_search_serve(rng, cfg, out):
    ids, texts = gen_documents(rng, cfg, out)
    # clustered vectors: centers on the unit sphere, gaussian spread
    dim, k, n = cfg["dim"], cfg["clusters"], cfg["vectors"]
    centers = []
    for _ in range(k):
        c = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in c))
        centers.append([x / norm for x in c])
    vids, vecs = [], []
    for i in range(n):
        c = centers[rng.randrange(k)]
        vids.append(i)
        vecs.append([round(x + rng.gauss(0, cfg["spread"]), 6) for x in c])
    pq.write_table(pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "v": pa.array(vecs, pa.list_(pa.float64()))}),
        os.path.join(out, "vectors.parquet"), compression="snappy")
    # request schedule, in arrival order. Arrivals are a Poisson
    # process: `at` is the arrival time in units of the mean gap, and
    # the harness divides it by the offered rate. Kinds come in blocks
    # of `bm25_every` with one BM25 query (Zipf-skewed terms) at a
    # random place in each block, the rest ANN queries near a cluster
    # center, so every stretch of the schedule has the stated mix.
    # Arrivals and kinds come from a fixed stream: the seed varies the
    # queries, not the shape of the schedule.
    vocab = sorted({w for t in texts for w in t.split(" ")})
    rng.shuffle(vocab)
    weights = zipf_weights(len(vocab), cfg["zipf_s"])
    shape = random.Random("search_serve schedule")
    every = cfg["bm25_every"]
    reqs, at, bm25_at = [], 0.0, 0
    for i in range(cfg["requests"]):
        if i % every == 0:
            bm25_at = i + shape.randrange(every)
        at += shape.expovariate(1.0)
        if i == bm25_at:
            nt = rng.randrange(1, 4)
            terms = sorted(set(rng.choices(vocab, weights=weights, k=nt)))
            reqs.append({"kind": "bm25", "at": round(at, 6), "terms": terms})
        else:
            c = centers[rng.randrange(k)]
            q = [round(x + rng.gauss(0, cfg["spread"]), 6) for x in c]
            reqs.append({"kind": "ann", "at": round(at, 6), "vec": q})
    write(os.path.join(out, "requests.json"),
          json.dumps(reqs, separators=(",", ":")).encode())
    return {"workload": "search_serve", "docs": len(ids), "vectors": n}


def write(path, data):
    with open(path, "wb") as f:
        f.write(data)


def generate(workload, seed, out):
    cfg = load_config()[workload]["inputs"]
    # string seeding is stable across runs (hash randomization does
    # not apply to random.Random's str seeding)
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out, exist_ok=True)
    fn = {"corpus_ingest": gen_corpus_ingest, "search_serve": gen_search_serve}[workload]
    truth = fn(rng, cfg, out)
    truth["seed"] = seed
    write(os.path.join(out, "truth.json"),
          json.dumps(truth, ensure_ascii=False, sort_keys=True).encode("utf-8"))
    return truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

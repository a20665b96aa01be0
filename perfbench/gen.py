"""Seeded input generators for the benchmark workloads.

Each generator is self-contained (it imports nothing from the program), so a
change to the program never changes the inputs.  Every generator writes its
files, a ``truth.json`` beside them (what the correctness checks need to
know), and returns a summary whose ``digest`` is the sha256 over every input
byte: a changed digest means a changed workload, not a speed change.

Same seed, same bytes.  Generation runs in one process before any timing.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import math
import os
import random
import statistics
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)

# Input parameters.  perfbench/README.md ("Input parameters") gives the
# source of each, or says that it is an assumption.
# extract: HTML bytes per page, lognormal; the median of the written pages
# is ~30 KB, the median HTML size per page in HTTP Archive's page-weight
# report.  The spread is an assumption.
PAGE_KB_MEDIAN, PAGE_KB_SIGMA, PAGE_KB_RANGE = 42.0, 0.6, (4.0, 200.0)
# Shares of a page's target bytes; assumptions.
TEXT_SHARE, NAV_SHARE = 0.15, 0.12
SCRIPT_SHARE, STYLE_SHARE = (0.35, 0.55), (0.08, 0.15)
EXTRACT_PDF_SHARE = 0.03      # assumption, above the web's share on purpose
# curate (all shares are assumptions): pages in exact- and near-duplicate
# families, shared boilerplate passages, PII, junk, PDFs and url revisits.
FAMILY_EVERY = 40             # one exact and one near family per 40 pages
PASSAGE_SHARE, PII_SHARE = 0.25, 0.10
PDF_SHARE, JUNK_SHARE, REVISIT_SHARE = 0.01, 0.02, 0.03
HOST_ZIPF = 1.2               # zipf exponent over 30 hosts; assumption
CRAWL_REPLAY = 0.3            # share of a later drop re-served; assumption

# Common words, so English text reads as English to a character-bigram model.
WORDS = {
    "en": ("the and of to in is that it was for on are with as his they at be "
           "this from have or by one had not but what all were when we there "
           "can an your which their said each she do how will up other about "
           "out many then them these so some her would make like him into time "
           "has look two more write go see number no way could people my than "
           "first water been call who oil its now find long down day did get "
           "come made may part river market town stone bridge harbor morning "
           "summer farmers season road children weather garden table window "
           "letter school mother father story music paper light house water "
           "ground place small large great little right old young").split(),
    "fr": ("le la les des une un est dans pour que qui sur avec pas plus par "
           "mais nous vous ils elle sont comme tout fait bien deux aussi leur "
           "temps ville pierre marché rivière matin été enfants jardin maison "
           "lettre école père mère histoire musique très après où déjà").split(),
    "es": ("el la los las una uno es en para que con por más pero como todo "
           "muy bien dos también sus tiempo ciudad piedra mercado río mañana "
           "verano niños jardín casa carta escuela padre madre historia música "
           "después año señor corazón pequeño grande").split(),
    "de": ("der die das und ist nicht mit sich auf für ein eine auch als "
           "nach bei aus wie noch nur über zwei wenn sehr mehr zeit stadt stein "
           "markt fluss morgen sommer kinder garten haus brief schule vater "
           "mutter geschichte musik größer schön straße müde bäume").split(),
}
LANG_WEIGHTS = (("en", 0.55), ("fr", 0.15), ("es", 0.15), ("de", 0.15))
NAV = ["Home", "News", "Sports", "Tech", "Business", "Science", "Health",
       "Travel", "Opinion", "Video", "Archive", "Login", "Help", "Privacy",
       "Terms", "Sitemap", "Contact", "About", "Careers", "Events"]
# Cross-document boilerplate sentences: passage dedup should cut them.
PASSAGES = [
    "all rights reserved no part of this page may be copied without written "
    "permission from the publisher",
    "sign up for our weekly letter and get the best stories of the day sent "
    "straight to your inbox",
    "this article was written with the help of readers like you who support "
    "our work every single month",
    "comments are closed for this story please read our community rules "
    "before you post again",
    "prices and times were correct when this page was made but may change "
    "without any notice to you",
]
CSS = ".nav{margin:0;padding:4px}.ad{display:none}a:hover{color:#c00}"
JS = ("var cfg={id:%d,slot:'top',lazy:true};function track(e){if(e&&e.t>0)"
      "{window.q=(window.q||[]).concat([e]);}}track({t:%d});")


def _pick_lang(rng: random.Random) -> str:
    r = rng.random()
    for lang, w in LANG_WEIGHTS:
        if r < w:
            return lang
        r -= w
    return "en"


def _words(rng: random.Random, lang: str, n: int) -> list[str]:
    return rng.choices(WORDS[lang], k=n)


def _sentence(rng: random.Random, lang: str) -> str:
    return " ".join(_words(rng, lang, rng.randint(8, 16))) + "."


def _paragraphs(rng: random.Random, lang: str, n: int) -> list[str]:
    return [" ".join(_sentence(rng, lang) for _ in range(rng.randint(2, 4)))
            for _ in range(n)]


def _nav(rng: random.Random, n: int) -> str:
    items = "".join(f'<li><a href="/{w.lower()}/{k}">{w}</a></li>'
                    for k, w in enumerate(rng.choices(NAV, k=n)))
    return f"<nav><ul>{items}</ul></nav>"


def _page(rng: random.Random, title: str, paras: list[str], *,
          nav_items: int, script_bytes: int, style_bytes: int) -> bytes:
    js = (JS % (rng.randrange(10**6), rng.randrange(10**6)))
    script = (js * (1 + script_bytes // len(js)))[:max(script_bytes, 1)]
    style = (CSS * (1 + style_bytes // len(CSS)))[:max(style_bytes, 1)]
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    return (
        "<!DOCTYPE html>\n<html><head>"
        f"<title>{title}</title><style>{style}</style>"
        f"<script>{script}</script></head>\n<body>\n"
        f"{_nav(rng, nav_items)}\n<header><h1>{title}</h1></header>\n"
        f"<article>\n{body}\n</article>\n"
        f"<aside>{_nav(rng, max(3, nav_items // 4))}</aside>\n"
        '<footer><p><a href="/about">About</a> | <a href="/terms">Terms</a>'
        "</p></footer>\n</body></html>\n"
    ).encode("utf-8")


def make_pdf(words: list[str]) -> bytes:
    """One-page FlateDecode PDF showing `words` in one text object; a
    conforming extractor returns ``" ".join(words)``."""
    lines = [" ".join(words[i:i + 10]) for i in range(0, len(words), 10)]
    ops = ["BT", "/F1 11 Tf", "72 720 Td"]
    for line in lines:
        ops += [f"({line} ) Tj", "0 -14 Td"]
    ops.append("ET")
    content = zlib.compress("\n".join(ops).encode("ascii"))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for k, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % k + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def _hosts(prefix: str, n: int, zipf_a: float) -> tuple[list[str], list[float]]:
    return ([f"{prefix}{k:03d}.example.org" for k in range(n)],
            [1.0 / (k + 1) ** zipf_a for k in range(n)])


def _write_parquet(rows: list[dict], out_dir: str, files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    for k in range(files):
        part = rows[k::files]
        tbl = pa.Table.from_pylist(
            [{**r, "text": None} for r in part], schema=schema)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{k:05d}.parquet"))


def _write_nb_model(out_dir: str, labelled: list[tuple[str, str]],
                    alpha: float = 1.0) -> None:
    """A multinomial naive-Bayes language model fitted on (label, text)
    pairs, saved as the program's model directory: word_model (label, word,
    log_lik) and label_model (label, log_prior, log_unseen)."""
    counts: dict[str, dict[str, int]] = {}
    docs: dict[str, int] = {}
    for label, text in labelled:
        docs[label] = docs.get(label, 0) + 1
        c = counts.setdefault(label, {})
        for w in text.lower().split():
            c[w] = c.get(w, 0) + 1
    vocab = len({w for c in counts.values() for w in c})
    words, labels = [], []
    for label in sorted(counts):
        tot = sum(counts[label].values()) + alpha * vocab
        words += [{"label": label, "word": w, "log_lik": math.log((n + alpha) / tot)}
                  for w, n in sorted(counts[label].items())]
        labels.append({"label": label,
                       "log_prior": math.log(docs[label] / len(labelled)),
                       "log_unseen": math.log(alpha / tot)})
    for name, rows in (("word_model", words), ("label_model", labels)):
        os.makedirs(os.path.join(out_dir, name))
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(out_dir, name, "part-0.parquet"))


def digest_dir(path: str) -> str:
    """sha256 over (relative name, bytes) of every file under `path`."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _finish(out_dir: str, truth: dict, props: dict) -> dict:
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return {"dir": out_dir, "digest": digest_dir(out_dir), **props}


def gen_extract(out_dir: str, seed: int, n: int, files: int = 8) -> dict:
    """Large pages for the extraction bypass workload: a lognormal size
    spread around ~30 KB, most of it script, style and navigation, with a
    few percent PDF payloads and no duplicates.  `nb_model/` is a language
    model fitted on the pages' `lang` labels."""
    rng = random.Random(seed)
    hosts, weights = _hosts("host", 100, 1.1)
    # Sizes and PDF word counts follow fixed quantile schedules that only
    # the seed's shuffle reorders, so every seed carries the same work.
    norm = statistics.NormalDist(math.log(PAGE_KB_MEDIAN), PAGE_KB_SIGMA)
    lo, hi = PAGE_KB_RANGE
    kbs = [min(hi, max(lo, math.exp(norm.inv_cdf((i + 0.5) / n))))
           for i in range(n)]
    rng.shuffle(kbs)
    n_pdf = round(EXTRACT_PDF_SHARE * n)
    pdf_at = dict(zip(rng.sample(range(n), n_pdf),
                      (150 + 750 * k // max(1, n_pdf - 1) for k in range(n_pdf))))
    rows, pdf_text = [], {}
    for i in range(n):
        lang = _pick_lang(rng)
        url = f"https://{rng.choices(hosts, weights)[0]}/page-{seed}-{i}"
        ts = EPOCH + dt.timedelta(seconds=37 * i)
        if i in pdf_at:
            words = _words(rng, "en", pdf_at[i])
            html = make_pdf(words)
            text = pdf_text[url] = " ".join(words)
        else:
            total = int(kbs[i] * 1024)
            paras = _paragraphs(rng, lang, max(2, int(total * TEXT_SHARE / 500)))
            text = " ".join(paras)
            html = _page(
                rng, _sentence(rng, lang).rstrip("."), paras,
                nav_items=max(10, int(total * NAV_SHARE / 60)),
                script_bytes=int(total * rng.uniform(*SCRIPT_SHARE)),
                style_bytes=int(total * rng.uniform(*STYLE_SHARE)))
        rows.append({"url": url, "warc_ts": ts, "html": html, "lang": lang,
                     "text": text})
    _write_parquet(rows, os.path.join(out_dir, "pages"), files)
    _write_nb_model(os.path.join(out_dir, "nb_model"),
                    [(r["lang"], r["text"]) for r in rows])
    sizes = sorted(len(r["html"]) for r in rows)
    return _finish(out_dir, {"pdf_text": pdf_text}, {
        "docs": n, "bytes": sum(sizes),
        "page_kb_p10_p50_p90": [round(sizes[int(q * (n - 1))] / 1024, 1)
                                for q in (0.1, 0.5, 0.9)],
        "pdf_docs": len(pdf_text)})


def _mutate(rng: random.Random, paras: list[str], lang: str,
            subs: int) -> list[str]:
    words = [p.split(" ") for p in paras]
    for _ in range(subs):
        k = rng.randrange(len(words))
        j = rng.randrange(len(words[k]))
        words[k][j] = rng.choice(WORDS[lang])
    return [" ".join(w) for w in words]


def gen_curate(out_dir: str, seed: int, n: int, files: int = 8) -> dict:
    """Small (~1.8 KB) pages with planted structure for the curation workload:
    exact-duplicate families (same bytes, several urls), near-duplicate
    families (a few words changed), url revisits (same url, newer fetch,
    new content), shared boilerplate passages, a zipf-hot host, PII strings,
    a little keyboard-mash junk and ~1% PDF payloads.  `nb_model/` is a
    language model fitted on the pages' `lang` labels."""
    rng = random.Random(seed)
    hosts, weights = _hosts("host", 30, HOST_ZIPF)
    rows: list[dict] = []
    truth = {"exact_families": [], "near_families": [], "revisits": [],
             "pdf_text": {}}

    def url(host: str) -> str:
        return f"https://{host}/doc-{seed}-{len(rows)}"

    def ts() -> dt.datetime:
        return EPOCH + dt.timedelta(seconds=23 * len(rows))

    def body(lang: str) -> list[str]:
        paras = _paragraphs(rng, lang, rng.randint(2, 4))
        if rng.random() < PASSAGE_SHARE:
            paras.insert(rng.randrange(len(paras) + 1), rng.choice(PASSAGES))
        if rng.random() < PII_SHARE:
            paras.append(f"write to {rng.choice(WORDS['en'])}{len(rows)}@"
                         f"mail.example.com or call +4420{rng.randrange(10**7):07d}")
        return paras

    def page(paras: list[str], title: str) -> bytes:
        return _page(rng, title, paras, nav_items=rng.randint(5, 10),
                     script_bytes=rng.randint(100, 300),
                     style_bytes=rng.randint(60, 160))

    n_exact = max(2, n // FAMILY_EVERY)  # families of 2-4 identical pages
    n_near = max(2, n // FAMILY_EVERY)   # families of 2-3 edited pages
    fam_host = [f"fam{k:03d}.example.net" for k in range(n_exact + n_near)]
    for f in range(n_exact):
        lang = "en"
        paras = _paragraphs(rng, lang, 3)
        html = page(paras, _sentence(rng, lang)[:-1])
        fam = []
        for _ in range(rng.randint(2, 4)):
            fam.append(url(fam_host[f]))
            rows.append({"url": fam[-1], "warc_ts": ts(), "html": html,
                         "lang": lang, "text": " ".join(paras)})
        truth["exact_families"].append(fam)
    for f in range(n_near):
        lang = "en"
        paras = _paragraphs(rng, lang, 4)
        title = _sentence(rng, lang)[:-1]
        fam = []
        for m in range(rng.randint(2, 3)):
            edited = paras if m == 0 else _mutate(rng, paras, lang, 2)
            fam.append(url(fam_host[n_exact + f]))
            rows.append({"url": fam[-1], "warc_ts": ts(),
                         "html": page(edited, title), "lang": lang,
                         "text": " ".join(edited)})
        truth["near_families"].append(fam)
    while len(rows) < n:
        host = rng.choices(hosts, weights)[0]
        r = rng.random()
        if r < PDF_SHARE:
            words = _words(rng, "en", rng.randint(60, 200))
            u = url(host)
            truth["pdf_text"][u] = " ".join(words)
            rows.append({"url": u, "warc_ts": ts(), "html": make_pdf(words),
                         "lang": "en", "text": truth["pdf_text"][u]})
            continue
        lang = "und" if r < PDF_SHARE + JUNK_SHARE else _pick_lang(rng)
        if lang == "und":
            paras = [" ".join("".join(rng.choices("qxzjkvwpfgh", k=rng.randint(
                3, 9))) for _ in range(40))]
        else:
            paras = body(lang)
        u = url(host)
        rows.append({"url": u, "warc_ts": ts(), "lang": lang,
                     "text": " ".join(paras),
                     "html": page(paras, _sentence(
                         rng, "en" if lang == "und" else lang)[:-1])})
        if lang != "und" and rng.random() < REVISIT_SHARE and len(rows) < n:
            truth["revisits"].append(u)
            paras = body(lang)
            rows.append({"url": u, "warc_ts": ts(), "lang": lang,
                         "text": " ".join(paras),
                         "html": page(paras, _sentence(rng, lang)[:-1])})
    rng.shuffle(rows)
    _write_parquet(rows, os.path.join(out_dir, "pages"), files)
    _write_nb_model(os.path.join(out_dir, "nb_model"),
                    [(r["lang"], r["text"]) for r in rows])
    counts: dict[str, int] = {}
    for r in rows:
        h = r["url"].split("/")[2]
        counts[h] = counts.get(h, 0) + 1
    hot = max(counts.values())
    truth["host_cap"] = max(10, hot // 2)
    return _finish(out_dir, truth, {
        "docs": len(rows), "bytes": sum(len(r["html"]) for r in rows),
        "exact_dup_docs": sum(len(f) for f in truth["exact_families"]),
        "near_dup_docs": sum(len(f) for f in truth["near_families"]),
        "revisits": len(truth["revisits"]),
        "hot_host_share": round(hot / len(rows), 3),
        "host_cap": truth["host_cap"],
        "pdf_docs": len(truth["pdf_text"])})


def _warc_record(url: str, payload: bytes, date: str) -> bytes:
    body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + payload
    head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\nContent-Length: {len(body)}\r\n\r\n")
    return gzip.compress(head.encode() + body + b"\r\n\r\n", mtime=0)


def gen_crawl(out_dir: str, seed: int, pages: list[dict], drops: int) -> dict:
    """Split `pages` (url, html) into `drops` WARC.gz crawl drops.  Every
    drop after the first re-serves CRAWL_REPLAY of its size from earlier
    drops, in equal thirds: url revisits (same url and bytes), exact copies (new
    url, same bytes) and near copies (new url, one word inserted).  The
    replayed exact content must never be admitted again."""
    rng = random.Random(seed ^ 0x5EED)
    per = -(-len(pages) // drops)
    served: list[dict] = []
    truth = {"revisits": [], "exact_copies": [], "near_copies": []}
    for d in range(drops):
        batch = [dict(p) for p in pages[d * per:(d + 1) * per]]
        if served:
            k = max(3, int(CRAWL_REPLAY * len(batch)) // 3)
            for kind, src in zip(("revisit", "exact", "near") * k,
                                 rng.sample(served, min(len(served), 3 * k))):
                if kind == "revisit":
                    batch.append(dict(src))
                    truth["revisits"].append(src["url"])
                elif kind == "exact":
                    u = f"{src['url']}?copy={d}"
                    batch.append({"url": u, "html": src["html"]})
                    truth["exact_copies"].append(u)
                else:
                    html = src["html"]
                    cut = html.find(b"<p>")
                    if cut < 0:  # a PDF payload has no paragraph to edit
                        continue
                    u = f"{src['url']}?near={d}"
                    w = rng.choice(WORDS["en"]).encode()
                    batch.append({"url": u, "html": html[:cut + 3] + w + b" "
                                  + html[cut + 3:]})
                    truth["near_copies"].append([src["url"], u])
        served += [p for p in batch if "?" not in p["url"]]
        ddir = os.path.join(out_dir, f"drop-{d:03d}")
        os.makedirs(ddir, exist_ok=True)
        date = (EPOCH + dt.timedelta(days=d)).strftime("%Y-%m-%dT%H:%M:%SZ")
        with open(os.path.join(ddir, "part-0.warc.gz"), "wb") as f:
            for p in batch:
                f.write(_warc_record(p["url"], p["html"], date))
    return _finish(out_dir, truth, {
        "drops": drops, "replay_share": CRAWL_REPLAY,
        "revisits": len(truth["revisits"]),
        "exact_copies": len(truth["exact_copies"]),
        "near_copies": len(truth["near_copies"])})


def read_pages(pages_dir: str) -> list[dict]:
    """The generated pages back as (url, html) dicts, in file order."""
    tbl = pq.read_table(pages_dir, columns=["url", "html"])
    return tbl.to_pylist()

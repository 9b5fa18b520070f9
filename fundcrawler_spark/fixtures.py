"""Deterministic synthetic fixtures (seed=42 everywhere; no network).

Mirrors the reference's test inputs (FIXTURES.md):
  * ``seeds``       — fund seed list (GetSpecialNeedCrawledFund analog,
                      reference get_fund_by_web.py:48-59)
  * ``page_bodies`` — synthetic HTML embedding the exact regex targets of
                      the four cleaning strategies, incl. '--'/'---'
                      sentinels, thousands separators, and anti-bot
                      blank-200 bodies (http_request_downloader.py:109-111)
  * ``images``      — image+caption payload rows per BASELINE.json
                      input_hint, encoded with our ppm/bmp/dctq codecs
  * ``hosts``       — politeness config (init 12 / cap cpu*5, mirrors
                      rate_control.py:19,30)
  * fault schedule  — deterministic failure injection for golden
                      crawl-order tests

All values are pure functions of (fund_code, page_type) so tests can
compute expected parse output independently.
"""

from __future__ import annotations

import zlib

import numpy as np

FUND_TYPES = ["股票型", "债券型", "混合型", "指数型", "债券指数型", "QDII"]
COMPANIES = ["华夏基金", "易方达基金", "南方基金", "天弘基金", "嘉实基金"]
MANAGERS = ["张坤", "刘彦春", "葛兰", "谢治宇", "朱少醒", "傅鹏博"]


def _h(code: str, salt: str = "") -> int:
    return zlib.crc32(f"{salt}:{code}".encode("utf-8"))


def seed_rows(n: int) -> list[tuple[str, str, int]]:
    """(fund_code, fund_name, seed_index). Codes 6-digit zero-padded,
    unique, deterministic."""
    rows = []
    for i in range(n):
        code = f"{(100003 * (i + 1) + 7) % 1000000:06d}"
        rows.append((code, f"基金{i:04d}号", i))
    return rows


# ------------------------------------------------------- expected fields


def expected_fields(code: str) -> dict[str, str | None]:
    """Ground-truth parse output for the synthetic body of ``code``."""
    h = _h(code)
    size_raw = f"{(h % 9000) + 1000:,}.{h % 100:02d}"  # thousands-separated
    sharpe_missing = h % 7 == 0
    inc3_missing = h % 5 == 0
    inc5_missing = h % 11 == 0
    appt = f"{2005 + h % 20}-{(h % 12) + 1:02d}-{(h % 28) + 1:02d}"
    return {
        "fund_type": FUND_TYPES[h % len(FUND_TYPES)],
        "fund_size": size_raw.replace(",", ""),
        "fund_company": COMPANIES[h % len(COMPANIES)],
        "fund_value": f"{(h % 500) / 100 + 0.5:.4f}",
        "fund_manager": MANAGERS[h % len(MANAGERS)],
        "date_of_appointment": appt,
        "stddev_3y": None if sharpe_missing else f"{(h % 3000) / 100:.2f}%",
        "sharpe_3y": None if sharpe_missing else f"{((h % 600) - 100) / 100:.2f}",
        "increase_3y": None if inc3_missing else f"{((h % 2000) - 500) / 10:.2f}%",
        "increase_5y": None if inc5_missing else f"{((h % 3000) - 500) / 10:.2f}%",
        "_size_raw": size_raw,
    }


def page_body(code: str, page_type: str) -> str:
    """Synthetic page body embedding the reference regex targets."""
    f = expected_fields(code)
    if page_type == "OVERVIEW":
        return (
            f"<html><table><tr><th>基金类型</th><td>{f['fund_type']}</td></tr>"
            f"<tr><th>发行日期</th><td>2001-01-01</td></tr>"
            f"<tr><th>资产规模</th><td>{f['_size_raw']}亿元（截止至）</td></tr>"
            f'<tr><th>基金管理人</th><td><a href="x">{f["fund_company"]}</a></td>'
            f"<th>基金托管人</th></tr></table>"
            f"<p>单位净值（2026-08-01）：{f['fund_value']} </p></html>"
        )
    if page_type == "MANAGER":
        # date must directly follow the first '>' after 上任日期： (lazy
        # [\s\S]+?> consumes exactly one tag) — mirrors the real page shape
        return (
            f"<html><h4>现任基金经理简介</h4><p>姓名：</p>"
            f'<a href="m">{f["fund_manager"]}</a>'
            f"<p>上任日期：<br>{f['date_of_appointment']}</p></html>"
        )
    if page_type == "METRICS":
        sd = f["stddev_3y"] or "--"
        sp = f["sharpe_3y"] or "--"
        return (
            f"<html><tr>标准差</td><td class='num'>1.11%<td class='num'>2.22%"
            f"<td class='num'>{sd}<</tr>"
            f"<tr>夏普比率</td><td class='num'>0.50<td class='num'>0.80"
            f"<td class='num'>{sp}<</tr></html>"
        )
    if page_type == "INCREASE":
        i3 = f["increase_3y"] or "---"
        i5 = f["increase_5y"] or "---"
        return f"<html>近3年：<b>{i3}</b> ... 近5年：<b>{i5}</b></html>"
    raise ValueError(page_type)


def page_body_rows(
    codes: list[str], fault_fraction: float = 0.0
) -> list[tuple[str, str, str, int, int]]:
    """(fund_code, page_type, body, status, latency_ms) rows for the stub
    transport. ``fault_fraction`` of rows (deterministic pick) get an
    anti-bot blank-200 or a 503 — mirrors the reference's failure modes."""
    from .schemas import PAGE_TYPES

    rows = []
    for code in codes:
        for pt in PAGE_TYPES:
            h = _h(code, pt)
            body, status = page_body(code, pt), 200
            if fault_fraction > 0 and (h % 10000) < fault_fraction * 10000:
                if h % 2 == 0:
                    body = ""  # anti-bot blank 200 (downloader.py:109-111)
                else:
                    status, body = 503, "busy"
            rows.append((code, pt, body, status, 50 + h % 200))
    return rows


# --------------------------------------------------------------- images


def make_image(image_id: str, w: int = 48, h: int = 48) -> np.ndarray:
    """Deterministic smooth-ish RGB image (smooth so dctq stays >=40dB)."""
    rng = np.random.RandomState(zlib.crc32(image_id.encode()) & 0x7FFFFFFF)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 3))
    for c in range(3):
        fx, fy = rng.uniform(0.02, 0.2, 2)
        px, py = rng.uniform(0, 2 * np.pi, 2)
        base = 128 + 100 * np.sin(2 * np.pi * fx * xx + px) * np.cos(
            2 * np.pi * fy * yy + py
        )
        img[:, :, c] = base + rng.normal(0, 3, (h, w))
    return np.clip(img, 0, 255).astype(np.uint8)


def caption_for(image_id: str) -> str:
    h = _h(image_id, "cap")
    return f"synthetic caption {h % 100000} for {image_id}"


def image_rows(n: int, fmts: tuple[str, ...] = ("ppm", "bmp", "dctq")):
    """Rows matching IMAGES_SCHEMA: (image_id, bytes, w, h, fmt, caption,
    phash)."""
    from .functions.imaging import encode_image, phash64

    rows = []
    for i in range(n):
        image_id = f"img_{i // 4}_{i % 4}"
        w = 32 + (i % 4) * 16
        h = 32 + ((i // 2) % 3) * 16
        arr = make_image(image_id, w, h)
        fmt = fmts[i % len(fmts)]
        rows.append(
            (
                image_id,
                bytearray(encode_image(arr, fmt)),
                w,
                h,
                fmt,
                caption_for(image_id),
                phash64(arr),
            )
        )
    return rows


def make_video(video_id: str, n_frames: int, w: int, h: int) -> bytes:
    """Deterministic VID1 container: per-frame ppm payloads derived
    from make_image with a per-frame id (operators/multimodal.py
    parse_video is the reader)."""
    from .functions.imaging import encode_image

    payload = b"VID1" + n_frames.to_bytes(2, "big")
    for j in range(n_frames):
        frame = encode_image(make_image(f"{video_id}_f{j}", w, h), "ppm")
        payload += len(frame).to_bytes(4, "big") + frame
    return payload


def video_rows(n: int) -> list[tuple[str, bytes, int, int, int]]:
    """(video_id, bytes, n_frames, w, h) rows; frame counts 3..7 and
    per-video dims vary deterministically."""
    rows = []
    for v in range(n):
        video_id = f"vid_{v}"
        n_frames = 3 + (v % 5)
        w = 32 + 8 * (v % 3)
        h = 32 + 8 * (v % 2)
        rows.append((video_id, make_video(video_id, n_frames, w, h), n_frames, w, h))
    return rows


def make_audio(audio_id: str, n_samples: int, sample_rate: int) -> bytes:
    """Deterministic AUD1 PCM payload: two sines + noise seeded from
    the id (functions/audio.py is the codec)."""
    from .functions.audio import encode_audio

    rng = np.random.RandomState(zlib.crc32(audio_id.encode()) & 0x7FFFFFFF)
    t = np.arange(n_samples, dtype=np.float64)
    f1, f2 = rng.uniform(0.002, 0.05, 2)
    a1, a2 = rng.uniform(2000, 12000, 2)
    x = (
        a1 * np.sin(2 * np.pi * f1 * t)
        + a2 * np.sin(2 * np.pi * f2 * t)
        + rng.normal(0, 300, n_samples)
    )
    return encode_audio(np.clip(x, -32768, 32767).astype(np.int16), sample_rate)


def audio_rows(n: int) -> list[tuple[str, bytes, int, int]]:
    """(audio_id, bytes, sample_rate, n_samples) rows; rates and
    lengths vary deterministically."""
    rows = []
    for a in range(n):
        audio_id = f"aud_{a}"
        rate = (8000, 16000, 22050)[a % 3]
        n_samples = 1000 + 500 * (a % 4)
        rows.append((audio_id, make_audio(audio_id, n_samples, rate), rate, n_samples))
    return rows


# ------------------------------------------------------------ PII docs

_PII_FILLER = (
    "the quick report covers quarterly fund onboarding and support "
    "escalations across regions"
).split()


def pii_rows(n: int) -> list[tuple[str, str]]:
    """(pii_id, text) rows with deterministically planted PII spans —
    emails, US-style phone numbers, IPv4s — woven between filler
    words. Every 5th row is clean (no PII), some rows carry two of a
    kind, so the redaction op's counts take nontrivial values. The
    SAME rows are inlined into the DuckDB oracle's VALUES, so the
    cross-engine check exercises each engine's own regex machinery
    (Java util.regex vs RE2) on identical inputs."""
    rows = []
    for i in range(n):
        fill = " ".join(
            _PII_FILLER[(i + k) % len(_PII_FILLER)] for k in range(5)
        )
        parts = [fill]
        if i % 5 != 4:
            parts.append(f"reach user{i}@example{i % 7}.com today")
            if i % 3 == 0:
                parts.append(f"cc team.lead{i}@corp{i % 4}.example.org")
        if i % 4 != 3:
            parts.append(f"call 555-{100 + i % 900:03d}-{(1000 + i * 7) % 10000:04d} now")
        if i % 6 < 2:
            parts.append(
                f"from host 10.{i % 256}.{(i * 3) % 256}.{(i * 7) % 256} logged"
            )
        parts.append(fill)
        rows.append((f"pii_{i:04d}", " ".join(parts)))
    return rows


# ----------------------------------------------------- multi-line docs


def corpus_line_rows(n: int) -> list[tuple[str, str]]:
    """(doc_id, text) deterministic MULTI-LINE documents for the
    line-level corpus gates (the shared ``documents`` table is
    single-line word soup, so line semantics need planted rows — same
    contract as ``pii_rows``/``html_rows``: the identical rows are
    inlined into the DuckDB oracle's VALUES and each engine runs its
    own split/regex machinery).

    Branches exercised: kept lines (>=5 words, terminal punctuation),
    short lines, no-terminal-punctuation lines, 'javascript' lines,
    within-doc DUPLICATED lines (x2 and x3), docs poisoned by 'lorem
    ipsum' (every 7th) or a curly brace (every 8th), and docs with
    fewer than 3 kept lines."""
    rows = []
    for i in range(n):
        lines = [
            f"the fund posted a steady gain of {i % 50} points this quarter.",
            f"gain {i % 9} noted.",  # <5 words -> dropped
            f"navigation menu home about contact fund {i % 7} list",  # no punct
        ]
        if i % 4 == 0:
            lines.append(
                "please enable javascript to view the full fund table today."
            )
        if i % 3 == 0:
            lines.append(lines[0])  # duplicate of the first kept line
        if i % 5 == 0:
            lines.append(lines[0])  # second duplicate -> a x3 group
        lines.append(f"will the {i % 11} holdings rebalance next month?")
        if i % 2 == 0:
            lines.append(
                f"managers reported {i % 13} new positions across both sleeves."
            )
        if i % 7 == 3:
            lines.append(
                "Lorem ipsum dolor sit amet consectetur adipiscing elit sed."
            )
        if i % 8 == 5:
            lines.append(f"var cfg = {{mode: {i % 6}}} embedded config line.")
        rows.append((f"line_{i:04d}", "\n".join(lines)))
    return rows


# ------------------------------------------------------------ HTML docs


def html_rows(n: int) -> list[tuple[str, str]]:
    """(page_id, html) rows — deterministic synthetic pages exercising
    every branch of the HTML text extractor: multi-line <script> (the
    (?s) DOTALL path), <style>, comments, attribute-bearing tags, all
    six decoded entities, double-encoded entities every 6th row, and
    ragged whitespace. The SAME rows are inlined into the DuckDB
    oracle's VALUES so each engine runs its OWN regex machinery
    (java.util.regex vs RE2) over identical inputs."""
    rows = []
    for i in range(n):
        fill = " ".join(
            _PII_FILLER[(i + k) % len(_PII_FILLER)] for k in range(4)
        )
        ent = "&amp;lt;still-encoded&amp;gt;" if i % 6 == 0 else "&lt;nav&gt;"
        html = (
            f"<!DOCTYPE html><html><head><title>Fund {i:04d}</title>\n"
            f"<style>.r{{color:#f00}}\n.b{{font-weight:bold}}</style>\n"
            f"<script type=\"text/javascript\">\nvar a = {i};\n"
            f"if (a < 10) {{ emit(\"x &amp; y\"); }}\n</script></head>\n"
            f"<body>\n<!-- generated row {i}\n     second comment line -->\n"
            f"<h1 class=\"t\">Fund &quot;{i:04d}&quot;</h1>\n"
            f"<p id=\"nav\">net {ent} value   {i % 97}.{i % 10} &amp; rising</p>\n"
            f"<div><span>manager&#39;s</span>&nbsp;tenure {i % 7}\tyears</div>\n"
            f"<p>{fill}</p>\n</body></html>"
        )
        rows.append((f"page_{i:04d}", html))
    return rows


# ---------------------------------------------------------------- hosts

EASTMONEY_HOST = "fundf10.eastmoney.com"

DEFAULT_ROBOTS = "User-agent: *\nDisallow: /private/\nAllow: /\n"

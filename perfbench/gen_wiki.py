"""Seeded MediaWiki full-history dump generator for the wiki workloads.

Writes, for one (workload, seed):

  wiki_snapshot: F `.7z` full-history dump files with skewed sizes, a
                 `dumpstatus.json`-shaped manifest naming them plus a few
                 files already ingested, a `done.txt` list of those
                 files' outputs (`<file>.parquet`), which must be skipped,
                 and the median file's pages again as a multistream
                 `.bz2` for the traced run's WikiBz2 probe.
  wiki_index:    one multistream `.bz2` dump (a header stream, streams of
                 100 whole pages, a footer stream), as Wikimedia ships.

and the expected output table, computed here, independently of the
engine, with the reference's per-page greedy walk: keep a revision iff its
timestamp is at or after the threshold (initially the epoch), then move
the threshold to the midnight after it. Only namespace-0 pages count.

Data shape: Zipf revisions per page, bursts of same-day edits, about half
the pages outside namespace 0, some revisions before the epoch, some
timestamps repeated within a page, and revision text that evolves by
small edits over a large Zipf vocabulary (with wiki markup and the XML
entities it forces), which gives the text a realistic compression ratio.
"""
import bz2
import hashlib
import json
import lzma
import os
import struct
import zlib
from concurrent.futures import ProcessPoolExecutor

import numpy as np

EPOCH_US = 979516800 * 1_000_000  # 2001-01-15 00:00:00 UTC, inclusive
DAY_US = 86_400 * 1_000_000
NS = "http://www.mediawiki.org/xml/export-0.10/"
WIKI = "benchwiki"

# Per-workload sizes, in revisions. wiki_snapshot spreads its revisions
# over one file per FILE_WEIGHTS entry, in file-name order, which puts the
# largest file at about 3x the median. The order is the same for every
# seed: the source plans one task per file in name order, so where the
# largest file falls sets how late it starts; here it is fifth, behind a
# first wave of four tasks.
SIZES = {
    "wiki_snapshot": {"revisions": 12_000, "done_extra": 3},
    "wiki_index": {"revisions": 12_000},
}
FILE_WEIGHTS = [1.05, 0.6, 1.5, 0.85, 3.0, 0.95, 1.2, 0.75]
# Revisions per page follow Zipf(1.7) up to MAX_REVS, drawn by strata so
# every seed gets the same histogram (and the same work): each block of
# pages takes every stratum's quantile once in namespace 0 and once
# outside it, in a seeded order.
ZIPF_A, MAX_REVS, STRATA = 1.7, 200, 32
PAGES_PER_STREAM = 100
# Revision text length, in UTF-8 bytes, that the edit walk reverts to.
TEXT_BYTES = 3000
PROBE_BZ2 = "probe-multistream.xml.bz2"

MARKUP = ["[[Category:History]]", "'''", "''", "==", "===", "{{cite web}}",
          "<ref>", "</ref>", "&", "&nbsp;", "<br />", "|", "*", "#",
          "[[Paris]]", "[[Rome|the city]]", "{{citation needed}}",
          "é", "ü", "中文", "Ω", "naïve", "\n", "\n\n"]


def _vocabulary(rng, n):
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "an",
            "el", "is", "or", "um", "ber", "dor", "fen", "gal", "hin",
            "jor", "kel", "lin", "mor", "nar", "pel", "qua", "ros", "sil",
            "tor", "val", "wen", "yth"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(1, 5))
        words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), k)))
    return sorted(words) + MARKUP


class _Words:
    """Zipf(1.1) word sampler over a fixed vocabulary, drawn in bulk."""

    def __init__(self, rng, vocab):
        self.rng = rng
        self.vocab = vocab
        w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
        self.cdf = np.cumsum(w / w.sum())
        # a seed-dependent rank order, so seeds differ in which words are hot
        self.perm = rng.permutation(len(vocab))
        self.buf = np.empty(0, dtype=np.int64)
        self.bytes = [len(w.encode()) + 1 for w in vocab]   # with the space

    def size(self, i):
        """UTF-8 bytes word `i` adds to a text."""
        return self.bytes[i]

    def take(self, k):
        if len(self.buf) < k:
            draw = np.searchsorted(self.cdf, self.rng.random(1 << 16))
            self.buf = np.concatenate([self.buf, self.perm[np.minimum(draw, len(self.vocab) - 1)]])
        out, self.buf = self.buf[:k], self.buf[k:]
        return out.tolist()


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _iso(us):
    days, rem = divmod(us // 1_000_000, 86_400)
    y, m, d = _civil(days)
    hh, rem = divmod(rem, 3600)
    mm, ss = divmod(rem, 60)
    return f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mm:02d}:{ss:02d}Z"


def _civil(z):
    """Days since 1970-01-01 -> (year, month, day), proleptic Gregorian."""
    z += 719468
    era = (z if z >= 0 else z - 146096) // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return (y + 1 if m <= 2 else y), m, d


def _month(us):
    y, m, _ = _civil(us // DAY_US)
    return f"{y:04d}-{m:02d}"


class _PageMaker:
    """Builds whole `<page>` elements and the expected snapshot rows."""

    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)
        self.words = _Words(self.rng, _vocabulary(self.rng, 40_000))
        self.page_id = 0
        self.rev_id = 0
        self.plan = self._plan()

    def _timestamps(self, n):
        rng = self.rng
        # page creation: mostly after the epoch, a few percent of pages before it
        t = EPOCH_US + int(rng.integers(-150, 4000)) * DAY_US
        t += int(rng.integers(0, DAY_US // 1_000_000)) * 1_000_000
        out = []
        while len(out) < n:
            burst = int(rng.geometric(0.45))   # same-day edit burst
            for _ in range(burst):
                if len(out) == n:
                    break
                if out and rng.random() < 0.03:
                    out.append(out[-1])          # duplicated timestamp
                    continue
                out.append(t)
                t += int(rng.integers(1, 1200)) * 1_000_000
            t += int(rng.exponential(25.0) * 86_400 + 28_800) * 1_000_000
        return out

    def page(self, title, ns, n_revs):
        rng, words = self.rng, self.words
        self.page_id += 1
        size = words.size
        tokens = []
        while sum(map(size, tokens)) < TEXT_BYTES * rng.uniform(0.9, 1.1):
            tokens += words.take(8)
        n_bytes = sum(map(size, tokens))
        parts = [f"  <page>\n    <title>{_esc(title)}</title>\n    <ns>{ns}</ns>\n"
                 f"    <id>{self.page_id}</id>\n"]
        revs = []
        for ts in self._timestamps(n_revs):
            # small edits: replace, insert and delete short runs; inserts
            # grow likelier as the text shrinks, so its length reverts to
            # TEXT_BYTES, whichever words a seed makes frequent, and every
            # seed's dump has about the same size
            for _ in range(1 + int(rng.poisson(2.0))):
                op = rng.random()
                pos = int(rng.integers(0, len(tokens) + 1))
                if op < 0.4:
                    pos = min(pos, len(tokens) - 1)
                    new = words.take(1)[0]
                    n_bytes += size(new) - size(tokens[pos])
                    tokens[pos] = new
                elif rng.random() * 2 * TEXT_BYTES > n_bytes:
                    run = words.take(int(rng.integers(1, 12)))
                    n_bytes += sum(map(size, run))
                    tokens[pos:pos] = run
                else:
                    end = pos + int(rng.integers(1, 12))
                    n_bytes -= sum(map(size, tokens[pos:end]))
                    del tokens[pos:end]
            if rng.random() < 0.01:
                text = ""                       # blanked revision
            else:
                text = " ".join(words.vocab[i] for i in tokens)
            self.rev_id += 1
            body = _esc(text)
            text_el = (f'<text bytes="{len(text.encode())}" xml:space="preserve">{body}</text>'
                       if text else '<text bytes="0" />')
            parts.append(
                f"    <revision>\n      <id>{self.rev_id}</id>\n"
                f"      <timestamp>{_iso(ts)}</timestamp>\n"
                f"      <contributor>\n        <username>Editor{self.rev_id % 977}</username>\n"
                f"        <id>{self.rev_id % 977}</id>\n      </contributor>\n"
                f"      <comment>edit {self.rev_id}</comment>\n"
                f"      <model>wikitext</model>\n      <format>text/x-wiki</format>\n"
                f"      {text_el}\n"
                f"      <sha1>{hashlib.sha1(text.encode()).hexdigest()[:31]}</sha1>\n"
                f"    </revision>\n")
            revs.append((ts, text))
        parts.append("  </page>\n")
        rows = []
        if ns == 0:
            threshold = EPOCH_US
            for ts, text in revs:
                if ts >= threshold:
                    rows.append((title, ts, text))
                    threshold = (ts // DAY_US + 1) * DAY_US
        return "".join(parts), len(revs), rows

    def _plan(self):
        """Endless (revisions, namespace) page plan, block by block."""
        pmf = 1.0 / np.arange(1, MAX_REVS + 1) ** ZIPF_A
        cdf = np.cumsum(pmf / pmf.sum())
        q = [int(np.searchsorted(cdf, (j + 0.5) / STRATA)) + 1 for j in range(STRATA)]
        other = [1, 2, 3, 4, 10, 14]
        while True:
            block = [(n, 0) for n in q] + [(n, other[i % len(other)]) for i, n in enumerate(q)]
            for i in self.rng.permutation(len(block)):
                yield block[i]

    def pages(self, revisions, prefix):
        """Yield (xml, n_revs, rows, ns) pages holding `revisions` in all."""
        rng = self.rng
        done = n = 0
        for n_revs, ns in self.plan:
            if done >= revisions:
                return
            n += 1
            title = f"{prefix} {self.words.vocab[int(rng.integers(0, 40000))].capitalize()} {n}"
            if ns:
                title = {1: "Talk:", 2: "User:", 3: "User talk:", 4: "Project:",
                         10: "Template:", 14: "Category:"}[ns] + title
            xml, k, rows = self.page(title, ns, min(n_revs, revisions - done))
            done += k
            yield xml, k, rows, ns


HEADER = (f'<mediawiki xmlns="{NS}" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" '
          f'version="0.10" xml:lang="en">\n  <siteinfo>\n    <sitename>Benchwiki</sitename>\n'
          f'    <dbname>{WIKI}</dbname>\n    <generator>MediaWiki 1.41</generator>\n'
          f'    <case>first-letter</case>\n  </siteinfo>\n')
FOOTER = "</mediawiki>\n"


def _num7z(v):
    """7z variable-length NUMBER encoding."""
    first, mask, i = 0, 0x80, 0
    while i < 8:
        if v < (1 << (7 * (i + 1))):
            first |= v >> (8 * i)
            break
        first |= mask
        mask >>= 1
        i += 1
    return bytes([first]) + v.to_bytes(8, "little")[:i]


def write_7z(path, entry_name, data):
    """A single-entry .7z archive: one LZMA2 folder at a fast preset."""
    dict_size = 1 << 20
    packed = lzma.compress(data, format=lzma.FORMAT_RAW,
                           filters=[{"id": lzma.FILTER_LZMA2, "preset": 1,
                                     "dict_size": dict_size}])
    dict_prop = 16  # LZMA2 property byte for a 1 MiB dictionary
    name = (entry_name + "\0").encode("utf-16-le")
    header = b"".join([
        b"\x01",                                   # Header
        b"\x04",                                   # MainStreamsInfo
        b"\x06", _num7z(0), _num7z(1),             # PackInfo: pos 0, 1 stream
        b"\x09", _num7z(len(packed)), b"\x00",
        b"\x07", b"\x0b", _num7z(1), b"\x00",      # UnpackInfo: 1 folder
        _num7z(1), b"\x21", b"\x21", _num7z(1), bytes([dict_prop]),
        b"\x0c", _num7z(len(data)),
        b"\x0a", b"\x01", struct.pack("<I", zlib.crc32(data)),
        b"\x00",
        b"\x08", b"\x00",                         # SubStreamsInfo: 1 per folder
        b"\x00",                                   # end MainStreamsInfo
        b"\x05", _num7z(1),                        # FilesInfo: 1 file
        b"\x11", _num7z(len(name) + 1), b"\x00", name,
        b"\x00",
        b"\x00",                                   # end Header
    ])
    start = struct.pack("<QQI", len(packed), len(header), zlib.crc32(header))
    with open(path, "wb") as f:
        f.write(b"7z\xbc\xaf\x27\x1c\x00\x04")
        f.write(struct.pack("<I", zlib.crc32(start)))
        f.write(start)
        f.write(packed)
        f.write(header)


def write_multistream(path, pages):
    """A multistream .bz2 dump, as Wikimedia ships one: a header stream,
    streams of PAGES_PER_STREAM whole pages, a footer stream, each
    compressed independently. Returns the XML byte count."""
    streams = [HEADER.encode()]
    streams += ["".join(pages[i:i + PAGES_PER_STREAM]).encode()
                for i in range(0, len(pages), PAGES_PER_STREAM)]
    streams.append(FOOTER.encode())
    with ProcessPoolExecutor(max_workers=min(4, os.cpu_count() or 1)) as pool:
        packed = list(pool.map(bz2.compress, streams, [9] * len(streams)))
    with open(path, "wb") as f:
        f.writelines(packed)
    return sum(len(b) for b in streams)


def _row_key(title, ts, text, with_text):
    h = hashlib.md5(text.encode()).hexdigest() if with_text else ""
    return [title, ts, _month(ts), h]


def generate(workload, seed, out_dir):
    """Write the inputs for (workload, seed) into `out_dir` and return the
    metadata dict the harness and the output check read (also saved as
    meta.json)."""
    cfg = SIZES[workload]
    maker = _PageMaker([seed, 0 if workload == "wiki_snapshot" else 1])
    os.makedirs(out_dir, exist_ok=True)
    expected = []
    revs_total = revs_ns0 = 0
    xml_bytes = 0
    files = []
    with_text = workload == "wiki_snapshot"
    if workload == "wiki_snapshot":
        dump = os.path.join(out_dir, "dump")
        os.makedirs(dump, exist_ok=True)
        weights = FILE_WEIGHTS
        unit = cfg["revisions"] / sum(weights)
        file_pages = {}
        for i, w in enumerate(weights):
            chunks = [HEADER]
            for xml, k, rows, ns in maker.pages(round(w * unit), f"P{i}"):
                chunks.append(xml)
                revs_total += k
                revs_ns0 += k if ns == 0 else 0
                expected.extend(_row_key(t, ts, tx, True) for t, ts, tx in rows)
            chunks.append(FOOTER)
            data = "".join(chunks).encode()
            xml_bytes += len(data)
            name = f"{WIKI}-20240101-pages-meta-history{i + 1}.xml-p{i * 1000 + 1}p{i * 1000 + 1000}.7z"
            write_7z(os.path.join(dump, name), name[:-3], data)
            files.append(name)
            file_pages[name] = chunks[1:-1]
        # the median-sized file's pages again as a multistream .bz2, for the
        # traced run's single-thread WikiBz2 probe (the job never reads it)
        median = sorted(files, key=lambda n: os.path.getsize(os.path.join(dump, n)))[len(files) // 2]
        write_multistream(os.path.join(out_dir, PROBE_BZ2), file_pages[median])
        extra = [f"{WIKI}-20231201-pages-meta-history{j + 1}.xml-p1p1000.7z"
                 for j in range(cfg["done_extra"])]
        listing = {n: {"size": os.path.getsize(os.path.join(dump, n)),
                       "url": f"/{WIKI}/20240101/{n}", "sha1": "0" * 40}
                   for n in files}
        listing.update({n: {"size": 1, "url": f"/{WIKI}/20231201/{n}", "sha1": "0" * 40}
                        for n in extra})
        manifest = {"version": "0.8", "jobs": {"metahistory7zdump": {
            "status": "done", "updated": "2024-01-02 03:04:05", "files": listing}}}
        with open(os.path.join(out_dir, "dumpstatus.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        with open(os.path.join(out_dir, "done.txt"), "w") as f:
            f.write("".join(f"{n}.parquet\n" for n in extra))
        inputs = {"manifest": "dumpstatus.json", "dump_dir": "dump", "done": "done.txt",
                  "files": files, "files_skipped": len(extra)}
    else:
        name = f"{WIKI}-20240101-pages-meta-history-multistream.xml.bz2"
        pages = []
        for xml, k, rows, ns in maker.pages(cfg["revisions"], "P"):
            pages.append(xml)
            revs_total += k
            revs_ns0 += k if ns == 0 else 0
            expected.extend(_row_key(t, ts, tx, False) for t, ts, tx in rows)
        xml_bytes = write_multistream(os.path.join(out_dir, name), pages)
        files = [name]
        inputs = {"file": name, "files": files}
    expected.sort()
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    meta = {"workload": workload, "seed": seed, "wiki": WIKI,
            "xml_bytes": xml_bytes,
            "input_bytes": sum(os.path.getsize(os.path.join(out_dir, inputs.get("dump_dir", ""), n))
                               for n in files),
            "revisions": revs_total, "revisions_ns0": revs_ns0,
            "expected_rows": len(expected), "with_text": with_text, **inputs}
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta

"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and returns plain Python data; the same
seed always gives the same bytes. The program under test only ever
sees the files these functions produce.

- ``make_repo``: a synthetic source repository across
  .rs/.py/.scala/.go/.ts/.md with a Zipf identifier vocabulary.
- ``edit_wave``: a seeded change set over a repo (modify, add, delete).
- ``questions``: chat questions built from the repo's identifiers,
  mixing the four intents with language, folder and extension hints.
- ``documents`` / ``events``: rows for the data-pipeline corpus, in the
  shape of the engine's ``documents`` and ``events`` tables.
"""

import bisect
import datetime
import json
import random

LANGS = [  # (extension, weight)
    ("rs", 0.24), ("py", 0.22), ("scala", 0.14), ("go", 0.14),
    ("ts", 0.14), ("md", 0.12),
]
FOLDERS = ["src", "lib", "tests", "docs"]
SYLLABLES = ["ka", "lo", "mi", "ren", "tor", "vex", "dra", "pel", "sun",
             "qua", "zi", "bor", "nex", "fil", "gra", "hul", "jin", "wes",
             "cor", "yam", "tik", "par", "sol", "ume"]


class Zipf:
    """Draws ranks 0..n-1 with P(rank r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n, s=1.1):
        acc, self.cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def draw(self, rng):
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def vocabulary(rng, n):
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _ident(rng, vocab, zipf, parts):
    return "_".join(vocab[zipf.draw(rng)] for _ in range(parts))


def _camel(name):
    return "".join(p.capitalize() for p in name.split("_"))


def _body_lines(rng, vocab, zipf, n):
    lines = []
    for _ in range(n):
        a, b, c = (_ident(rng, vocab, zipf, rng.randint(1, 2)) for _ in range(3))
        lines.append((a, b, c, rng.randint(0, 999)))
    return lines


def _unit(ext, rng, vocab, zipf):
    """One top-level definition in the file's language."""
    name = _ident(rng, vocab, zipf, 2)
    lines = _body_lines(rng, vocab, zipf, rng.randint(4, 14))
    if ext == "rs":
        body = "".join(f"    let {a} = {b}.{c}({n});\n" for a, b, c, n in lines)
        return f"/// Computes {name.replace('_', ' ')}.\npub fn {name}(input: &str) -> usize {{\n{body}    input.len()\n}}\n"
    if ext == "py":
        body = "".join(f"    {a} = {b}.{c}({n})\n" for a, b, c, n in lines)
        return f"def {name}(value):\n    \"\"\"Computes {name.replace('_', ' ')}.\"\"\"\n{body}    return value\n"
    if ext == "scala":
        body = "".join(f"    val {_camel(a)} = {b}.{c}({n})\n" for a, b, c, n in lines)
        return f"  /** Computes {name.replace('_', ' ')}. */\n  def {_camel(name)}(input: String): Int = {{\n{body}    input.length\n  }}\n"
    if ext == "go":
        body = "".join(f"\t{_camel(a)} := {b}.{_camel(c)}({n})\n" for a, b, c, n in lines)
        return f"// {_camel(name)} computes {name.replace('_', ' ')}.\nfunc {_camel(name)}(input string) int {{\n{body}\treturn len(input)\n}}\n"
    if ext == "ts":
        body = "".join(f"  const {_camel(a)} = {b}.{c}({n});\n" for a, b, c, n in lines)
        return f"/** Computes {name.replace('_', ' ')}. */\nexport function {_camel(name)}(input: string): number {{\n{body}  return input.length;\n}}\n"
    prose = " ".join(f"The {a} step feeds {b} into {c}." for a, b, c, _ in lines)
    return f"## {name.replace('_', ' ').title()}\n\n{prose}\n"


def _file_text(ext, rng, vocab, zipf, target_bytes):
    if ext == "scala":
        parts = [f"package {vocab[zipf.draw(rng)]}\n\nobject {_camel(_ident(rng, vocab, zipf, 1))} {{\n"]
    elif ext == "go":
        parts = [f"package {vocab[zipf.draw(rng)]}\n\n"]
    elif ext == "md":
        parts = [f"# {_ident(rng, vocab, zipf, 2).replace('_', ' ').title()}\n\n"]
    else:
        parts = []
    size = sum(map(len, parts))
    while size < target_bytes:
        u = _unit(ext, rng, vocab, zipf)
        parts.append(u + "\n")
        size += len(u) + 1
    if ext == "scala":
        parts.append("}\n")
    return "".join(parts)


def _pick(rng, weighted):
    x, acc = rng.random() * sum(w for _, w in weighted), 0.0
    for item, w in weighted:
        acc += w
        if x < acc:
            return item
    return weighted[-1][0]


def make_repo(seed, n_files, mean_bytes=6000, vocab_size=2000):
    """Return ``{relative_path: text}`` for a synthetic repository.

    File sizes are lognormal, scaled so that every seed's repo holds
    about ``n_files * mean_bytes`` bytes: seeds then differ in content,
    not in how much there is to index and search."""
    rng = random.Random(f"repo-{seed}")
    vocab = vocabulary(rng, vocab_size)
    zipf = Zipf(vocab_size)
    sizes = [rng.lognormvariate(0, 0.6) for _ in range(n_files)]
    scale = n_files * mean_bytes / sum(sizes)
    files = {}
    while len(files) < n_files:
        ext = _pick(rng, LANGS)
        folder = "docs" if ext == "md" else rng.choice(FOLDERS[:3])
        sub = vocab[zipf.draw(rng)]
        path = f"{folder}/{sub}/{_ident(rng, vocab, zipf, 2)}.{ext}"
        if path in files:
            continue
        files[path] = _file_text(ext, rng, vocab, zipf, int(sizes[len(files)] * scale))
    files["README.md"] = "# Synthetic repository\n\nGenerated input for the benchmark.\n"
    files["Cargo.toml"] = '[package]\nname = "synthetic"\nversion = "0.1.0"\n'
    return files


def edit_wave(seed, repo, modify=0.05, add=0.01, delete=0.01):
    """Return ``(modified, added, deleted)`` for a seeded edit wave.

    ``modified`` and ``added`` map paths to new text; ``deleted`` lists
    paths. Modified files gain one definition in their own language."""
    rng = random.Random(f"wave-{seed}")
    paths = sorted(p for p in repo if "/" in p)
    n = len(paths)
    vocab = vocabulary(rng, 500)
    zipf = Zipf(len(vocab))
    chosen = rng.sample(paths, int(round(n * (modify + delete))))
    n_del = int(round(n * delete))
    deleted, modified = sorted(chosen[:n_del]), {}
    for p in chosen[n_del:]:
        ext = p.rsplit(".", 1)[1]
        modified[p] = repo[p] + "\n" + _unit(ext, rng, vocab, zipf)
    added = {}
    for i in range(int(round(n * add))):
        ext = _pick(rng, LANGS)
        folder = "docs" if ext == "md" else "src"
        added[f"{folder}/added/new_{i}_{vocab[i]}.{ext}"] = _file_text(ext, rng, vocab, zipf, 4000)
    return modified, added, deleted


LANG_HINTS = {"rs": "rust", "py": "python", "scala": "scala", "go": "golang",
              "ts": "typescript", "md": None}


def questions(seed, repo, n):
    """Chat questions built from the repo's identifiers.

    The templates hit the mock classifier's four intents and carry
    language, folder and extension hints, so the retrieval filters take
    several branches."""
    rng = random.Random(f"questions-{seed}")
    paths = sorted(p for p in repo if "/" in p)
    out = []
    for _ in range(n):
        p = rng.choice(paths)
        ext = p.rsplit(".", 1)[1]
        words = [w for w in repo[p].replace("(", " ").replace(".", " ").split()
                 if w.isidentifier() and len(w) > 5]
        term = rng.choice(words).replace("_", " ") if words else "main"
        folder = p.split("/", 1)[0]
        lang = LANG_HINTS[ext]
        kind = rng.randrange(4)
        if kind == 0:
            q = f"how does {term} work"
        elif kind == 1:
            q = f"where is {term} implemented"
        elif kind == 2:
            q = f"fix the bug in {term}"
        else:
            q = f"explain what is {term}"
        hint = rng.randrange(4)
        if hint == 1 and lang:
            q += f" in {lang} code"
        elif hint == 2:
            q += f" in {folder}"
        elif hint == 3 and ext in ("rs", "py", "go", "ts", "md"):
            q += f" in the .{ext} files"
        out.append(q)
    return out


DOC_WORDS = ("query row stream the spark line small fast group customer batch "
             "sort value hash filter big data dup part column order scan a slow "
             "agg key window table merge vector join").split()
DOC_LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def documents(seed, n_docs, n_sources=20, dup_rate=0.04):
    """Rows ``(doc_id, text, lang, source, n_chars)``; a share of the
    documents are near-copies of earlier ones, so the dedup stages have
    work to do."""
    rng = random.Random(f"documents-{seed}")
    rows = []
    for i in range(n_docs):
        if rows and rng.random() < dup_rate:
            words = rng.choice(rows)[1].split()
            j = rng.randrange(len(words))
            words[j] = rng.choice(DOC_WORDS)
        else:
            words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 96))]
        text = " ".join(words)
        rows.append((i, text, _pick(rng, DOC_LANGS), f"src{rng.randrange(n_sources)}", len(text)))
    return rows


EPOCH_2024_US = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000


def events(seed, n_events, n_users=1500, days=30):
    """Rows ``(event_id, ts_micros, user_id, event_type, value, props)``
    in time order."""
    rng = random.Random(f"events-{seed}")
    span = days * 86_400 * 1_000_000
    ts = sorted(rng.randrange(span) for _ in range(n_events))
    return [(i, EPOCH_2024_US + t, rng.randrange(n_users), rng.choice(EVENT_TYPES),
             round(rng.random() * 560, 2), json.dumps({"k": rng.randrange(100)}))
            for i, t in enumerate(ts)]

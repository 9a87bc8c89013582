"""Seeded CTB mailbox generator with ground truth, and the check of the
ingest pipeline's outputs against that truth.

The shape of the mailbox (waves, file kinds, row counts, bad-row counts) is
fixed; the seed draws the contents: field values, which rows are bad and
how, and the clean-row variations. So every seed costs the engine the same
number of files, rows and batches, while no two seeds share data.

Every fixture case of FIXTURES.md occurs: UTF-8 BOM, CRLF line ends,
"1,234" integers, empty field -> NULL, padded fields (trimmed), bad integer,
bad date (both shapes), wrong column count, unknown header, header-only and
0-byte files; plus a file whose header columns are permuted and a file in
which every row is bad.
"""
import datetime
import hashlib
import os
import random

import digest

RAW_HEADERS = [
    "Org Code", "Master Cust Name", "Customer Number", "Item Number",
    "Cust Part Num", "Item Description", "Demand Due Date", "Demand Qty",
    "Avail OnTime", "Avail Date", "SplitAvail Supply Source", "SplitAvailDate",
    "SplitAvail Qty", "Days Late", "Unique Short Qty Count", "Gating Part",
    "Gating M/B", "Gating LT", "Gating Cust Part", "Cust Part Description",
    "Snapshot Date"]
CANONICAL = [
    "ORG_CODE", "MASTER_CUST_NAME", "CUSTOMER_NUMBER", "ITEM_NUMBER",
    "CUST_PART_NUM", "ITEM_DESCRIPTION", "DEMAND_DUE_DATE", "DEMAND_QTY",
    "ONTIME_QTY", "AVAILABLE_DATE", "SUPPLY_SOURCE", "SUPPLY_AVAILABLE_DATE",
    "SUPPLY_AVA_QTY", "DAYS_LATE", "UNIQ_SHORT_QTY", "GATING_PART", "MAKE_BUY",
    "LEAD_TIME", "GATING_CUST_PART", "CUST_PART_DESCRIPTION", "SNAPSHOT_DATE"]
INT_COLS = {"DEMAND_QTY", "ONTIME_QTY", "SUPPLY_AVA_QTY", "DAYS_LATE",
            "UNIQ_SHORT_QTY", "LEAD_TIME"}
DATE_COLS = {"DEMAND_DUE_DATE", "AVAILABLE_DATE", "SUPPLY_AVAILABLE_DATE",
             "SNAPSHOT_DATE"}
BAD_FRACTION = 0.05
BAD_KINDS = ("bad_int", "bad_date_month", "bad_date_format", "width_short", "width_long")
WORDS = ["alpha", "bravo", "delta", "echo", "gamma", "kilo", "lima", "nova",
         "omega", "sigma", "tango", "zulu", "café", "naïve", "Ø-ring", "über"]

# the fixed shape: per wave, (kind, data rows, options)
SHAPE = [
    [("data", 120, "bom"), ("zero_byte", 0, ""), ("other", 3, ""),
     ("header_only", 0, ""), ("data", 150, "bom,crlf,permuted")],
    [("data", 1500, ""), ("unknown_header", 40, ""), ("data", 200, "crlf"),
     ("all_bad", 20, "")],
]


def _date(rng):
    d = datetime.date(2024, 1, 1) + datetime.timedelta(days=rng.randrange(730))
    return d.isoformat()


def _clean_fields(rng):
    """Raw field strings (canonical order) of a clean row and the values the
    pipeline must store for it."""
    raw, typed = [], []
    for c in CANONICAL:
        if rng.random() < 0.03:  # empty field -> NULL, row kept
            raw.append("")
            typed.append(None)
            continue
        if c in INT_COLS:
            v = rng.randrange(0, 50000)
            s = f"{v:,}" if v >= 1000 and rng.random() < 0.3 else str(v)
            typed.append(v)
        elif c in DATE_COLS:
            s = _date(rng)
            typed.append(s)
        else:
            s = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 4)))
            if c == "CUSTOMER_NUMBER":
                s = f"C{rng.randrange(10**6):06d}"
            typed.append(s)
        if rng.random() < 0.05:  # padded field, trimmed on ingest
            s = "  " + s + " "
        raw.append(s)
    return raw, typed


def _bad_fields(rng, kind):
    """Raw fields of a bad row and the error it must produce, as a function
    of the row's line number and raw line."""
    raw, _ = _clean_fields(rng)
    if kind == "bad_int":
        c = rng.choice(sorted(INT_COLS))
        v = rng.choice(["abc", "12x", "1.5e"])
        raw[CANONICAL.index(c)] = v
        return raw, lambda n, line: f"Row {n}: Could not convert '{v}' to INTEGER for column '{c}'."
    if kind in ("bad_date_month", "bad_date_format"):
        c = rng.choice(sorted(DATE_COLS))
        v = "2025-13-01" if kind == "bad_date_month" else "01/02/2025"
        raw[CANONICAL.index(c)] = v
        return raw, lambda n, line: (f"Row {n}: Could not parse date '{v}' for column "
                                     f"'{c}' (expected yyyy-MM-dd).")
    raw = raw[:-1] if kind == "width_short" else raw + ["extra"]
    return raw, lambda n, line: (f"Row {n} has incorrect number of columns. Expected "
                                 f"{len(CANONICAL)}, got {len(raw)}. Row content: {line}")


def _encode(lines, opts):
    nl = "\r\n" if "crlf" in opts else "\n"
    text = nl.join(lines) + nl
    if "bom" in opts:
        text = "﻿" + text
    return text.encode("utf-8")


def _data_file(rng, n, opts, all_bad=False):
    order = list(range(len(CANONICAL)))
    headers = list(RAW_HEADERS)
    if "permuted" in opts:
        rng.shuffle(order)
        headers = [RAW_HEADERS[i].lower() if rng.random() < 0.5 else RAW_HEADERS[i] for i in order]
    n_bad = n if all_bad else max(1, round(n * BAD_FRACTION))
    bad_at = set(rng.sample(range(n), n_bad))
    lines = ["\t".join(headers)]
    clean, errors = [], []
    for i in range(n):
        lineno = i + 2  # the header is row 1
        if i in bad_at:
            kind = rng.choice(BAD_KINDS[:3] if all_bad else BAD_KINDS)
            raw, err = _bad_fields(rng, kind)
            if len(raw) == len(CANONICAL):
                raw = [raw[j] for j in order]
            line = "\t".join(raw)
            errors.append(err(lineno, line))
        else:
            raw, typed = _clean_fields(rng)
            line = "\t".join(raw[j] for j in order)
            clean.append(tuple(typed))
        lines.append(line)
    return _encode(lines, opts), clean, errors


def _sample(errors):
    return sorted(errors)[:20]


def generate(seed, shape=SHAPE):
    """Return (waves, truth). `waves` is a list of lists of (file name,
    bytes); `truth` is the expected outcome of draining them one wave per
    `runOnce` and then polling once more with nothing new."""
    rng = random.Random(seed)
    tag = hashlib.sha256(str(seed).encode()).hexdigest()[:6]
    waves, files, notes = [], [], []
    clean_rows, row_errors, failures = [], [], []
    data_rows = 0
    k = 0
    for w, wave in enumerate(shape):
        out = []
        wave_ok = False
        for kind, n, opts in wave:
            k += 1
            if kind == "other":  # not matched by the CTB* source glob
                name = f"notes_{tag}_{k:02d}.txt"
                out.append((name, _encode([f"note {rng.random()}" for _ in range(n)], "")))
                continue
            name = f"CTB_{tag}_{k:02d}.tsv"
            rec = {"file": name, "kind": kind, "wave": w}
            if kind == "zero_byte":
                body = b""
                rec.update(outcome="failed", reason="File is empty")
            elif kind == "header_only":
                body = _encode(["\t".join(RAW_HEADERS)], opts)
                rec.update(outcome="failed", reason="File contains no data rows")
            elif kind == "unknown_header":
                hdr = RAW_HEADERS + ["Mystery Col"]
                rows = ["\t".join(_clean_fields(rng)[0] + ["x"]) for _ in range(n)]
                body = _encode(["\t".join(hdr)] + rows, opts)
                data_rows += n
                rec.update(outcome="failed", reason="Schema mismatch. Unknown columns: MYSTERY_COL")
            else:
                body, clean, errors = _data_file(rng, n, opts, all_bad=(kind == "all_bad"))
                data_rows += n
                row_errors += errors
                clean_rows += clean
                rec.update(inserted=len(clean), row_errors=len(errors))
                if not clean:
                    rec.update(outcome="failed", reason=(
                        f"No valid rows from '{name}' could be inserted into the sink."
                        "\nRow-level errors:\n" + "\n".join(_sample(errors))))
                elif errors:
                    wave_ok = True
                    rec.update(outcome="partial", detail=(
                        f"Inserted {len(clean)} rows with {len(errors)} row-level errors "
                        "and 0 batch errors:\n" + "\n".join(_sample(errors))))
                else:
                    wave_ok = True
                    rec.update(outcome="success")
            if rec["outcome"] == "failed":
                failures.append(f"{name}: {rec['reason']}")
            files.append(rec)
            out.append((name, body))
        waves.append(out)
        notes.append(wave_ok)
    notifications = []
    for rec in files:
        if rec["outcome"] == "success":
            notifications.append(_success(rec["file"], rec["inserted"]))
        else:
            notifications.append(_error(rec["file"], rec.get("detail") or rec["reason"]))
    n_info = sum(1 for ok in notes if not ok) + 1  # + the final empty poll
    notifications += [(NO_DATA, None)] * n_info
    truth = {
        "seed": seed,
        "files": files,
        "data_rows": data_rows,
        "clean_rows": len(clean_rows),
        "clean_digest": clean_digest(clean_rows),
        "row_errors": len(row_errors),
        "errors_digest": errors_digest(row_errors + failures),
        "error_entries": len(row_errors) + len(failures),
        "notifications": sorted(notifications, key=_note_key),
        "ignored": [name for wave in waves for name, _ in wave if not name.startswith("CTB")],
        # Spark's cleanSource archives a micro-batch's files only when the
        # next batch is planned, so the last wave may still sit in the
        # mailbox (acknowledged by the checkpoint, never re-read)
        "pending": [f["file"] for f in files if f["wave"] == len(shape) - 1],
    }
    return waves, truth


NO_DATA = "INFO: No CTB Documents Found"


def _success(name, n):
    return (f"SUCCESS: CTB File '{name}' Processing Successful",
            f"Successfully processed '{name}' and inserted {n} rows into the sink.\n\n"
            "The file has been archived and acknowledged at the source.")


def _error(name, details):
    return (f"ERROR: CTB Processing Failed - {name}",
            f"An error occurred during CTB file processing.\n\nDetails:\n{details}\n\n"
            "The problematic file (if any) should be in the 'Failed' folder.")


def _note_key(n):
    return (n[0], n[1] or "")


def clean_digest(rows):
    """Digest of clean rows in canonical column order; dates as ISO strings."""
    return digest.digest_rows(CANONICAL, rows)[1]


def errors_digest(entries):
    return digest.digest_rows(["error"], [(e,) for e in entries])[1]


def write_waves(waves, stage_dir):
    """Write each wave under stage_dir/wNN/; return the lists of paths."""
    paths = []
    for w, wave in enumerate(waves):
        d = os.path.join(stage_dir, f"w{w:02d}")
        os.makedirs(d, exist_ok=True)
        ps = []
        for name, body in wave:
            p = os.path.join(d, name)
            with open(p, "wb") as f:
                f.write(body)
            ps.append(p)
        paths.append(ps)
    return paths


# ------------------------------------------------------------------- checks

def _sink_rows(sink_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(sink_dir).select(CANONICAL)
    cols = [t.column(c).to_pylist() for c in CANONICAL]
    rows = []
    for r in zip(*cols):
        rows.append(tuple(v.isoformat() if isinstance(v, datetime.date) else v for v in r))
    return rows


def check_sink(truth, sink_dir):
    rows = _sink_rows(sink_dir)
    errs = []
    if len(rows) != truth["clean_rows"]:
        errs.append(f"sink holds {len(rows)} rows, expected {truth['clean_rows']}")
    elif clean_digest(rows) != truth["clean_digest"]:
        errs.append("sink rows differ from the expected clean rows")
    return errs


def check_pass(truth, rec):
    """Compare one drained mailbox (sink, errors, archive, input dir and the
    notification log) with the truth. Returns a list of mismatches."""
    import pyarrow.parquet as pq
    dirs = rec["dirs"]
    errs = check_sink(truth, dirs["sink"])
    got_err = pq.read_table(dirs["errors"]).column("error").to_pylist() \
        if os.path.isdir(dirs["errors"]) else []
    if len(got_err) != truth["error_entries"]:
        errs.append(f"errors dir holds {len(got_err)} entries, expected {truth['error_entries']}")
    elif errors_digest(got_err) != truth["errors_digest"]:
        errs.append("error entries differ from the expected ones")
    archived = set()
    for root, _, names in os.walk(dirs["archive"]):
        archived.update(names)
    want = {f["file"] for f in truth["files"]} - set(truth["pending"])
    if not want <= archived:
        errs.append(f"not archived: {sorted(want - archived)}")
    left = set(os.listdir(dirs["in"]))
    allowed = set(truth["ignored"]) | (set(truth["pending"]) - archived)
    if left != allowed:
        errs.append(f"input dir holds {sorted(left)}, expected {sorted(allowed)}")
    notes = sorted(((n["subject"], None if n["subject"] == NO_DATA else n["body"])
                    for n in rec["notifications"]), key=_note_key)
    want_notes = [tuple(n) for n in truth["notifications"]]
    if notes != want_notes:
        missing = [n for n in want_notes if n not in notes]
        extra = [n for n in notes if n not in want_notes]
        errs.append(f"notifications differ: missing {missing[:3]} extra {extra[:3]}")
    for op in rec["ops"]:
        if op["name"] == "empty_poll" and op.get("files_seen", 0) != 0:
            errs.append(f"final empty poll saw {op['files_seen']} files")
    return errs

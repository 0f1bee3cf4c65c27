"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes.  The program under test receives only the files; each
generator also keeps a model of what the pipeline must produce from them
and writes it as a JSON manifest beside (never inside) the landing zone.

The expected-result model restates the pipeline's documented semantics
(reference sql/03-06 as ported in ``plans/``):

* headers rank per ``(client_id, source_txn_id)`` over the whole raw
  history, latest ingest wins, ``dup_cnt > 1`` flags DUPLICATE_TXN;
* MISSING_REQUIRED when the timestamp or the amount does not parse,
  NEGATIVE_AMOUNT when the amount is below zero;
* lines come from the surviving raw row only (``join_mode="row"``), one
  code per line: NEGATIVE_QTY before NEGATIVE_AMOUNT_LINE;
* the canonical tables MERGE, so line and anomaly keys accumulate across
  runs; the audit holds one row per file ever loaded.

Two rows of one key that land in the same run always carry identical
content, so the survivor's payload never depends on the hash tiebreak.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, replace
from decimal import Decimal, InvalidOperation

ANOMALY_CODES = (
    "DUPLICATE_TXN",
    "MISSING_REQUIRED",
    "NEGATIVE_AMOUNT",
    "NEGATIVE_QTY",
    "NEGATIVE_AMOUNT_LINE",
)
CSV_HEADER = (
    "source_txn_id,txn_timestamp,currency,total_amount,customer_id,"
    "account_id,merchant,item_id,description,quantity,unit_price,"
    "line_amount,line_currency"
)
MERCHANTS = ("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Stark", "Wayne")
CURRENCIES = ("usd", "eur", "gbp", "cad")
WORDS = tuple(
    f"{a}{b}"
    for a in ("ka", "lo", "mi", "ne", "po", "ru", "si", "ta", "vu", "ze")
    for b in ("bar", "dex", "fin", "gol", "hap", "jot", "kin", "lum", "mor", "nix",
              "pel", "quo", "ras", "sul", "tor", "ult", "vex", "wim", "yal", "zor")
)


def _dec(s: str | None) -> Decimal | None:
    if s is None or s == "":
        return None
    try:
        return Decimal(s)
    except InvalidOperation:
        return None


def zipf_picker(rng: random.Random, n: int, s: float = 1.1):
    """Draw ids 0..n-1 with probability proportional to 1/(rank+1)^s."""
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    ids = list(range(n))
    return lambda: rng.choices(ids, weights)[0]


# ---------------------------------------------------------------------------
# Transactions
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Line:
    number: int
    item: str
    desc: str
    qty: str
    price: str
    amount: str

    def code(self) -> str | None:
        q, a = _dec(self.qty), _dec(self.amount)
        if q is not None and q < 0:
            return "NEGATIVE_QTY"
        if a is not None and a < 0:
            return "NEGATIVE_AMOUNT_LINE"
        return None


@dataclass(frozen=True)
class Txn:
    client: str
    txn_id: str
    ts: str | None
    currency: str
    amount: str | None
    customer: str
    account: str
    merchant: str
    lines: tuple[Line, ...]
    id_as_attr: bool = False  # XML only: id as attribute, not child element

    def header_codes(self) -> set[str]:
        codes = set()
        amt = _dec(self.amount)
        if self.ts is None or not self.ts[:4].isdigit() or amt is None:
            codes.add("MISSING_REQUIRED")
        if amt is not None and amt < 0:
            codes.add("NEGATIVE_AMOUNT")
        return codes


class TxnFactory:
    """Draws transactions with planted defects at fixed shares."""

    # share of transactions with each planted header/line defect
    P_MISSING = 0.04
    P_NEG_AMOUNT = 0.04
    P_NEG_QTY = 0.03
    P_NEG_LINE = 0.03

    def __init__(self, rng: random.Random, n_customers: int = 500):
        self.rng = rng
        self.customer = zipf_picker(rng, n_customers)

    def _money(self, lo: float, hi: float) -> str:
        return f"{self.rng.uniform(lo, hi):.2f}"

    def lines(self, n: int) -> tuple[Line, ...]:
        r = self.rng
        out = []
        for i in range(n):
            qty = str(r.randint(1, 9))
            price = self._money(1, 200)
            amount = f"{Decimal(qty) * Decimal(price):.2f}"
            u = r.random()
            if u < self.P_NEG_QTY:
                qty = "-" + qty
            elif u < self.P_NEG_QTY + self.P_NEG_LINE:
                amount = "-" + amount
            out.append(Line(i + 1, f"SKU-{r.randint(1, 400)}", r.choice(WORDS), qty, price, amount))
        return tuple(out)

    def txn(self, client: str, txn_id: str, n_lines: int) -> Txn:
        r = self.rng
        lines = self.lines(n_lines)
        total = sum((Decimal(l.amount) for l in lines), Decimal(0)) if lines else Decimal(
            self._money(5, 900)
        )
        amount: str | None = f"{abs(total):.2f}"
        ts: str | None = (
            f"2026-0{r.randint(1, 9)}-{r.randint(10, 28)}T{r.randint(10, 23)}:"
            f"{r.randint(10, 59)}:{r.randint(10, 59)}"
        )
        u = r.random()
        if u < self.P_MISSING / 2:
            ts = None if r.random() < 0.5 else "not-a-time"
        elif u < self.P_MISSING:
            amount = None if r.random() < 0.5 else "n/a"
        elif u < self.P_MISSING + self.P_NEG_AMOUNT:
            amount = "-" + amount
        return Txn(
            client=client,
            txn_id=txn_id,
            ts=ts,
            currency=r.choice(CURRENCIES),
            amount=amount,
            customer=f"CUST-{self.customer()}",
            account=f"ACC-{r.randint(1, 60)}",
            merchant=r.choice(MERCHANTS),
            lines=lines,
            id_as_attr=r.random() < 0.5,
        )

    def correction(self, t: Txn) -> Txn:
        """A re-sent transaction under the same id with changed content."""
        amt = _dec(t.amount)
        new_amount = f"{(amt if amt is not None else Decimal(10)) + Decimal('1.25'):.2f}"
        if self.rng.random() < 0.3:
            new_amount = "-" + new_amount.lstrip("-")
        return replace(t, amount=new_amount, merchant=self.rng.choice(MERCHANTS))


# ---------------------------------------------------------------------------
# File renderers (one per format)
# ---------------------------------------------------------------------------
def _xml_el(tag: str, val: str | None) -> str:
    return "" if val is None else f"<{tag}>{val}</{tag}>"


def render_xml(t: Txn) -> str:
    lines = "".join(
        "<line>"
        + _xml_el("line_number", str(l.number))
        + _xml_el("item_id", l.item)
        + _xml_el("description", l.desc)
        + _xml_el("quantity", l.qty)
        + _xml_el("unit_price", l.price)
        + _xml_el("line_amount", l.amount)
        + "</line>"
        for l in t.lines
    )
    opener = (
        f'<transaction transaction_id="{t.txn_id}">'
        if t.id_as_attr
        else f"<transaction>{_xml_el('transaction_id', t.txn_id)}"
    )
    return (
        opener
        + _xml_el("transaction_ts", t.ts)
        + _xml_el("currency", t.currency)
        + _xml_el("total_amount", t.amount)
        + f"<customer><id>{t.customer}</id></customer>"
        + _xml_el("account_id", t.account)
        + f"<merchant><name>{t.merchant}</name></merchant>"
        + (f"<line_items>{lines}</line_items>" if t.lines else "")
        + "</transaction>\n"
    )


def _json_obj(t: Txn, drifted: bool) -> dict:
    if drifted:  # the drifted key spellings the transform's COALESCE chains accept
        d = {"txn_id": t.txn_id, "ccy": t.currency, "customerId": t.customer, "payee": t.merchant}
        ts_key, amt_key, items_key = "transaction_time", "amount", "items"
    else:
        d = {"transaction_id": t.txn_id, "currency": t.currency,
             "customer_id": t.customer, "merchant": t.merchant}
        ts_key, amt_key, items_key = "transaction_ts", "total_amount", "line_items"
    d["account_id"] = t.account
    if t.ts is not None:
        d[ts_key] = t.ts
    if t.amount is not None:
        d[amt_key] = t.amount
    if t.lines:
        if drifted:
            d[items_key] = [
                {"sku": l.item, "name": l.desc, "qty": l.qty, "price": l.price, "total": l.amount}
                for l in t.lines  # no line_number: the index fallback numbers them
            ]
        else:
            d[items_key] = [
                {"line_number": l.number, "item_id": l.item, "description": l.desc,
                 "quantity": l.qty, "unit_price": l.price, "line_amount": l.amount}
                for l in t.lines
            ]
    return d


def render_json(txns: list[Txn], rng: random.Random) -> str:
    return json.dumps([_json_obj(t, rng.random() < 0.3) for t in txns]) + "\n"


def render_csv_row(t: Txn) -> str:
    l = t.lines[0] if t.lines else None
    cells = [t.txn_id, t.ts or "", t.currency, t.amount or "", t.customer, t.account,
             t.merchant]
    cells += [l.item, l.desc, l.qty, l.price, l.amount, ""] if l else [""] * 6
    return ",".join(cells)


MALFORMED = {
    "XML": "<transaction><transaction_id>BROKEN</transaction_id><total\n",
    "JSON": '{"transaction_id": "BROKEN", unquoted: oops\n',
}
RAGGED_CSV_ROW = "RAGGED-1,2026-01-15T16:00:00,gbp"


# ---------------------------------------------------------------------------
# Landing zone with an incremental expected-result model
# ---------------------------------------------------------------------------
@dataclass
class _Row:
    run: int
    txn: Txn
    fmt: str


class LandingZone:
    """A tri-format landing zone in the reference layout:

        client_a/xml/*.xml   one transaction per document (ClientA)
        client_c/json/*.json JSON arrays of transactions (ClientC)
        client_a/csv/*.csv   multi-row CSV, one line item per row
        client_c/csv/*.csv   (client derived from the path)

    ``land_bulk`` writes the initial zone; ``land_delta`` adds one
    incremental drop (new CSV files, never appends to old ones).  After each
    landing, ``expected()`` is what one more ``Pipeline.run_batch`` must
    leave in the warehouse, and ``write_manifest`` records it.
    """

    SPECS = {"XML": "client_a/xml", "JSON": "client_c/json"}

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = random.Random(seed)
        self.fac = TxnFactory(self.rng)
        self.run = 0  # runs whose files have landed
        self.seq = 0  # next transaction number
        self.rows: dict[tuple[str, str], list[_Row]] = {}
        self.audit: dict[str, int] = {}  # rel file path -> rows_loaded
        self.files: list[tuple[str, list[Txn]]] = []  # well-formed files, for re-landing
        self.line_keys: set[tuple[str, str, int]] = set()
        self.anomalies: set[tuple[str, str, str, int | None]] = set()
        self.last_landed: list[str] = []
        if os.path.exists(root):
            shutil.rmtree(root)
        for d in ("client_a/xml", "client_c/json", "client_a/csv", "client_c/csv"):
            os.makedirs(os.path.join(root, d))

    # -- writing ------------------------------------------------------------
    def _write(self, rel: str, body: str) -> None:
        with open(os.path.join(self.root, rel), "w") as f:
            f.write(body)
        self.last_landed.append(rel)

    def _land(self, rel: str, fmt: str, txns: list[Txn], body: str, loaded: int) -> None:
        self._write(rel, body)
        self.audit[rel] = loaded
        for t in txns:
            self.rows.setdefault((t.client, t.txn_id), []).append(_Row(self.run, t, fmt))
        if txns:
            self.files.append((rel, txns))

    def _new_txn(self, client: str, prefix: str, n_lines: int) -> Txn:
        self.seq += 1
        return self.fac.txn(client, f"{prefix}-{self.seq:07d}", n_lines)

    def _xml_file(self, tag: str, t: Txn) -> None:
        self._land(f"client_a/xml/{tag}_{t.txn_id}.xml", "XML", [t], render_xml(t), 1)

    def _json_file(self, tag: str, i: int, txns: list[Txn]) -> None:
        self._land(f"client_c/json/{tag}_{i:04d}.json", "JSON", txns,
                   render_json(txns, self.rng), len(txns))

    def _csv_file(self, client_dir: str, tag: str, i: int, txns: list[Txn],
                  dup_rows: int = 0, ragged: bool = False) -> None:
        rows = txns + [self.rng.choice(txns) for _ in range(dup_rows)]
        body = [CSV_HEADER] + [render_csv_row(t) for t in rows]
        if ragged:
            body.insert(1 + self.rng.randrange(len(rows)), RAGGED_CSV_ROW)
        self._land(f"{client_dir}/csv/{tag}_{i:04d}.csv", "CSV", rows,
                   "\n".join(body) + "\n", len(rows))

    def _csv_txn(self, client_dir: str) -> Txn:
        client = "ClientA" if client_dir == "client_a" else "ClientC"
        prefix = "CA" if client_dir == "client_a" else "CC"
        # one line or header-only (no item/description/amount -> no line)
        return self._new_txn(client, prefix, 1 if self.rng.random() < 0.85 else 0)

    def _malformed(self, tag: str) -> None:
        self._write(f"client_a/xml/{tag}_broken.xml", MALFORMED["XML"])
        self.audit[f"client_a/xml/{tag}_broken.xml"] = 0
        self._write(f"client_c/json/{tag}_broken.json", MALFORMED["JSON"])
        self.audit[f"client_c/json/{tag}_broken.json"] = 0

    # -- landings -----------------------------------------------------------
    def land_bulk(self, n_xml: int, n_json_files: int, json_per_file: int,
                  n_csv_files: int, csv_rows: int) -> None:
        """The initial zone: every format, every planted defect."""
        self.run += 1
        self.last_landed = []
        tag = f"r{self.run:03d}"
        for _ in range(n_xml):
            self._xml_file(tag, self._new_txn("ClientA", "XA", self.rng.randint(0, 4)))
        for i in range(n_json_files):
            txns = [self._new_txn("ClientC", "JC", self.rng.randint(0, 4))
                    for _ in range(json_per_file)]
            self._json_file(tag, i, txns)
        for i in range(n_csv_files):
            cdir = ("client_a", "client_c")[i % 2]
            self._csv_file(cdir, tag, i, [self._csv_txn(cdir) for _ in range(csv_rows)],
                           dup_rows=max(1, csv_rows // 50), ragged=(i % 3 == 0))
        self._malformed(tag)
        # exact duplicate documents under new names, in the same landing
        for j, (rel, txns) in enumerate(self.rng.sample(self.files, max(1, len(self.files) // 40))):
            self._reland(tag, j, rel, txns)
        self._apply_run()

    def land_delta(self, n_new: int, n_corrections: int, n_relands: int) -> None:
        """One incremental drop: new XML/JSON/CSV files, corrections to
        existing transaction ids, and files re-landing with duplicate
        content under new names."""
        # corrections only target keys that existed before this drop
        old_keys = [k for k in self.rows if k[1].startswith(("XA", "JC"))]
        self.run += 1
        self.last_landed = []
        tag = f"r{self.run:03d}"
        relanded = self.rng.sample(self.files, min(n_relands, len(self.files)))
        frozen = {(t.client, t.txn_id) for _, txns in relanded for t in txns}
        for j, (rel, txns) in enumerate(relanded):
            self._reland(tag, j, rel, txns)
        n_xml = n_new // 4
        for _ in range(n_xml):
            self._xml_file(tag, self._new_txn("ClientA", "XA", self.rng.randint(0, 4)))
        per = max(1, n_new // 4)
        self._json_file(tag, 0, [self._new_txn("ClientC", "JC", self.rng.randint(0, 4))
                                 for _ in range(per)])
        for i, cdir in enumerate(("client_a", "client_c")):
            self._csv_file(cdir, tag, i, [self._csv_txn(cdir) for _ in range(per)],
                           ragged=(self.run % 2 == 0 and i == 0))
        # corrections: same ids, changed content, in a new file of the same format
        keys = [k for k in old_keys if k not in frozen]
        fixes = [self.fac.correction(self._latest(k)) for k in self.rng.sample(keys, n_corrections)]
        xml_fixes = [t for t in fixes if t.txn_id.startswith("XA")]
        json_fixes = [t for t in fixes if t.txn_id.startswith("JC")]
        for t in xml_fixes:
            self._land(f"client_a/xml/{tag}_fix_{t.txn_id}.xml", "XML", [t], render_xml(t), 1)
        if json_fixes:
            self._json_file(tag + "_fix", 0, json_fixes)
        self._apply_run()

    def land_nothing(self) -> None:
        """A run that finds no new files (the fixed cost of a rerun)."""
        self.run += 1
        self.last_landed = []
        self._apply_run()

    def _reland(self, tag: str, j: int, rel: str, txns: list[Txn]) -> None:
        base, ext = os.path.splitext(os.path.basename(rel))
        dst = f"{os.path.dirname(rel)}/{tag}_dup{j}_{base}{ext}"
        with open(os.path.join(self.root, rel)) as f:
            body = f.read()
        fmt = {".xml": "XML", ".json": "JSON", ".csv": "CSV"}[ext]
        self._land(dst, fmt, txns if fmt != "CSV" else self._csv_rows_of(body, txns),
                   body, self.audit[rel])

    def _csv_rows_of(self, body: str, txns: list[Txn]) -> list[Txn]:
        by_row = {render_csv_row(t): t for t in txns}
        return [by_row[line] for line in body.splitlines()[1:] if line in by_row]

    def _latest(self, key: tuple[str, str]) -> Txn:
        return max(self.rows[key], key=lambda r: r.run).txn

    # -- model --------------------------------------------------------------
    def _apply_run(self) -> None:
        """Fold one run into the accumulated line and anomaly key sets."""
        for key, rows in self.rows.items():
            top = max(r.run for r in rows)
            survivors = {r.txn for r in rows if r.run == top}
            if len(survivors) != 1:
                raise AssertionError(f"ambiguous survivor for {key}")
            t = survivors.pop()
            codes = t.header_codes() | ({"DUPLICATE_TXN"} if len(rows) > 1 else set())
            for c in codes:
                self.anomalies.add((key[0], key[1], c, None))
            for line in t.lines:
                self.line_keys.add((key[0], key[1], line.number))
                c = line.code()
                if c:
                    self.anomalies.add((key[0], key[1], c, line.number))

    def expected(self) -> dict:
        by_code = {c: 0 for c in ANOMALY_CODES}
        for a in self.anomalies:
            by_code[a[2]] += 1
        rows_by_type: dict[str, int] = {}
        for rel, n in self.audit.items():
            ft = {".xml": "XML", ".json": "JSON", ".csv": "CSV"}[os.path.splitext(rel)[1]]
            rows_by_type[ft] = rows_by_type.get(ft, 0) + n
        return {
            "run": self.run,
            "can_txn": len(self.rows),
            "can_txn_line": len(self.line_keys),
            "anomalies_by_code": by_code,
            "audit_files": len(self.audit),
            "audit_rows_loaded_by_type": rows_by_type,
        }

    def write_manifest(self, path: str) -> dict:
        exp = self.expected()
        with open(path, "w") as f:
            json.dump(exp, f, indent=1, sort_keys=True)
        return exp


# ---------------------------------------------------------------------------
# XML feed (streaming)
# ---------------------------------------------------------------------------
def xml_feed(seed: int, n_files: int) -> list[tuple[str, str]]:
    """``n_files`` single-transaction XML documents ``(name, body)`` with
    unique ids (a duplicate split across two micro-batches is merged but not
    re-flagged, so the stream==batch check needs none) and every header and
    line defect; every 25th document is malformed."""
    rng = random.Random(seed)
    fac = TxnFactory(rng)
    out = []
    for i in range(n_files):
        name = f"feed_{i:05d}.xml"
        if i % 25 == 24:
            out.append((name, MALFORMED["XML"]))
        else:
            t = fac.txn("ClientA", f"XF-{i:06d}", rng.randint(0, 4))
            out.append((name, render_xml(t)))
    return out

"""Seeded broker-export generator for the ledger workloads.

Writes exports in the four dialects the program reads (freetrade CSV, ii CSV,
fidelity CSV with its preamble, a folder of bullionvault .eml files), plus the
exact output line each kept row must become. Expected lines are rendered here,
independently of the program's JS number formatter: every emitted decimal is
written so that its JS rendering is its own text with trailing zeros trimmed,
and the one computed value (freetrade stamp duty + FX fee) is rendered with
Python's shortest round-trip repr, which agrees with JS in the range used.

Row counts are fixed by the arguments, not by the seed (the seed only moves
values and the positions of dropped rows), so runs with different seeds do the
same amount of work.
"""

import os
import random

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
MONTHS_FULL = ["January", "February", "March", "April", "May", "June", "July",
               "August", "September", "October", "November", "December"]
DIALECTS = ("freetrade", "ii", "fidelity", "bullionvault")


def trim_decimal(text):
    """JS rendering of a plain decimal literal: trailing zeros and dot gone."""
    if "." in text:
        text = text.rstrip("0").rstrip(".")
    return text


def js_number(x):
    """JS Number#toString for finite doubles with 1e-4 <= |x| < 1e16 or 0."""
    if x == 0:
        return "0"
    if not 1e-4 <= abs(x) < 1e16:
        raise ValueError("outside the range where repr matches JS: %r" % x)
    return trim_decimal(repr(x))


def cents(rng, lo, hi):
    """A price in pounds with two decimals, as text, from lo..hi pence."""
    c = rng.randint(lo, hi)
    return "%d.%02d" % (c // 100, c % 100)


class Export:
    """One generated input: the path the program reads and its expected lines."""

    def __init__(self, dialect, path, expected, rows, dropped):
        self.dialect = dialect
        self.path = path
        self.expected = expected
        self.rows = rows
        self.dropped = dropped


def _drop_positions(rng, n, dropped):
    return set(rng.sample(range(n), dropped)) if dropped else set()


def _date(rng, year0, years):
    return rng.randint(year0, year0 + years - 1), rng.randint(1, 12), rng.randint(1, 28)


def freetrade(rng, path, n, dropped, year0, years):
    drop = _drop_positions(rng, n, dropped)
    expected = []
    with open(path, "w", encoding="utf-8") as w:
        w.write("Title,Type,Timestamp,Account Currency,Buy / Sell,Ticker,ISIN,"
                "Price per Share in Account Currency,Stamp Duty,Quantity,FX Fee Amount\n")
        for i in range(n):
            y, mo, d = _date(rng, year0, years)
            if i in drop:
                w.write("Statement,MONTHLY_STATEMENT,%d-%02d-%02dT00:00:00.000Z,GBP,,,,,,,\n"
                        % (y, mo, d))
                continue
            kind = rng.choice(("BUY", "SELL"))
            ts = "%d-%02d-%02dT%02d:%02d:00.000Z" % (y, mo, d, rng.randint(0, 23), rng.randint(0, 59))
            isin = "GB00B%06dX" % rng.randint(0, 999999)
            qty = str(rng.randint(1, 500))
            px = cents(rng, 100, 90000)
            stamp = cents(rng, 1, 500) if kind == "BUY" else ""
            fx = cents(rng, 1, 300) if rng.randint(0, 3) == 0 else ""
            w.write("Order,ORDER,%s,GBP,%s,TKR%d,%s,%s,%s,%s,%s\n"
                    % (ts, kind, i % 97, isin, px, stamp, qty, fx))
            expenses = (float(stamp) if stamp else 0.0) + (float(fx) if fx else 0.0)
            expected.append("%s %02d/%02d/%d %s %s %s %s" % (
                kind, d, mo, y, isin, qty, trim_decimal(px), js_number(expenses)))
    return Export("freetrade", path, expected, n, dropped)


def ii(rng, path, n, dropped, year0, years):
    drop = _drop_positions(rng, n, dropped)
    expected = []
    with open(path, "w", encoding="utf-8") as w:
        w.write("Settlement Date,Symbol,Sedol,Quantity,Price,Debit,Credit\n")
        for i in range(n):
            y, mo, d = _date(rng, year0, years)
            if i in drop:
                w.write("%d/%d/%d,,,n/a,n/a,£%d.99,n/a\n" % (d, mo, y, rng.randint(0, 19)))
                continue
            buy = rng.random() < 0.5
            qty = rng.randint(1, 400)
            px = cents(rng, 100, 50000)
            total = "%d.00" % (qty * 5)
            debit, credit = (total, "n/a") if buy else ("n/a", total)
            sedol = "SD%dL" % (i % 53)
            w.write("%d/%d/%d,SYM%d,%s,%d,£%s,%s,%s\n"
                    % (d, mo, y, i % 89, sedol, qty if buy else -qty, px, debit, credit))
            expected.append("%s %02d/%02d/%d %s %d %s 0" % (
                "BUY" if buy else "SELL", d, mo, y, sedol, qty, trim_decimal(px)))
    return Export("ii", path, expected, n, dropped)


def fidelity(rng, path, n, dropped, year0, years):
    drop = _drop_positions(rng, n, dropped)
    expected = []
    with open(path, "w", encoding="utf-8") as w:
        for k in range(1, 8):
            w.write("Preamble line %d\n" % k)
        w.write("Order date,Completion date,Transaction type,Investments,Product Wrapper,"
                "Account Number,Source investment,Amount,Quantity,Price per unit,"
                "Reference Number,Status\n")
        for i in range(n):
            y, mo, d = _date(rng, year0, years)
            date = "%d %s %d" % (d, MONTHS[mo - 1], y)
            if i in drop:
                w.write("%s,%s,Cash In,,ISA,ACC1,,100.00,,,REF%d,Complete\n" % (date, date, i))
                continue
            buy = rng.random() < 0.5
            amount = cents(rng, 100, 900000)
            qty = cents(rng, 1, 90000)
            px = cents(rng, 100, 40000)
            fund = "Fidelity Index Fund %d" % (i % 31)
            w.write("%s,%s,%s,%s,ISA,ACC1,,%s%s,%s,%s,REF%d,Complete\n" % (
                date, date, "Buy" if buy else "Sell", fund, "" if buy else "-",
                amount, qty, px, i))
            expected.append("%s %02d/%02d/%d %s %s %s 0" % (
                "BUY" if buy else "SELL", d, mo, y, fund.replace(" ", "_"),
                trim_decimal(qty), trim_decimal(px)))
    return Export("fidelity", path, expected, n + 8, dropped + 8)


def bullionvault(rng, folder, n, year0, years):
    os.makedirs(folder)
    expected = []
    for i in range(n):
        y, mo, d = _date(rng, year0, years)
        buy = rng.random() < 0.5
        metal = rng.choice(("Gold", "Silver"))
        grams = rng.randint(1, 2000)
        qty = "%d.%03d" % (grams // 1000, grams % 1000)
        px = rng.randint(30000, 49999)
        consider = "%d.%02d" % (grams * px // 1000, grams * px % 1000 // 10)
        comm = cents(rng, 1, 9999)
        t = "%02d:%02d:%02d" % (rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59))
        body = ("Subject: Dealing advice\n"
                "Security: %s stored in Zurich\n"
                "Summary: %s %s kg @ GBP %s /kg\n"
                "Consideration: GBP %s\n"
                "Commission: GBP %s\n"
                "Deal time: %d %s %d %s BST\n"
                % (metal, "Buy" if buy else "Sell", qty, format(px, ","), consider, comm,
                   d, MONTHS_FULL[mo - 1], y, t))
        with open(os.path.join(folder, "deal%05d.eml" % i), "w", encoding="utf-8") as w:
            w.write(body)
        expected.append("%s %02d/%02d/%d %s %s %d %s" % (
            "BUY" if buy else "SELL", d, mo, y, metal.upper(), trim_decimal(qty), px,
            trim_decimal(comm)))
    return Export("bullionvault", folder, expected, n, 0)


def export(dialect, rng, path, rows, drop_share, year0=2015, years=9):
    """One export of `rows` input rows in `dialect`; `drop_share` of the
    CSV rows are of the kinds the parsers drop."""
    dropped = int(round(rows * drop_share))
    if dialect == "freetrade":
        return freetrade(rng, path + ".csv", rows, dropped, year0, years)
    if dialect == "ii":
        return ii(rng, path + ".csv", rows, dropped, year0, years)
    if dialect == "fidelity":
        return fidelity(rng, path + ".csv", rows, dropped, year0, years)
    return bullionvault(rng, path, rows, year0, years)

"""Seeded generator of reference-shaped daily drops.

Writes, for `days` consecutive days starting 2021-03-01:

  ddl_dml.sql                          seed masters (cards, accounts, clients)
  drops/transactions_DDMMYYYY.txt      `;`-separated CSV, decimal-comma amounts
  drops/terminals_DDMMYYYY.xlsx        full terminal snapshot
  drops/passport_blacklist_DDMMYYYY.xlsx  cumulative blacklist, Excel-serial
                                       dates, trailing styled all-null rows

The shapes follow FIXTURES.md A1-A4 at `scale` times the fixture's volume
(~15.7k transactions a day over 195 cards, 77 accounts, 50 clients and 150
terminals at scale 1; every master count scales with it, so per-card
density and rule hit rates stay the fixture's):

  * terminal CDC: a new terminal on day 2, address updates on day 2, the
    new terminal deleted and an updated terminal re-updated on day 3, one
    more address update on every later day;
  * an expiring passport, an expired account and a blacklisted client,
    all effective from day 2, so rules 1 and 2 fire from day 3 on; each
    of them holds a fixed number of cards (TRIGGER_CARDS), which sets the
    mart volume near the fixture's ~1,100 rows over 3 days;
  * cards live in one home city; a few transactions a day land in another
    city, which is what rule 3 reports;
  * a few REJECT -> REJECT -> SUCCESS triples with decreasing amounts
    inside 20 minutes (rule 4), on top of the chance ones.

The same (scale, days, seed) always gives byte-identical files.
"""
import datetime as dt
import os
import zipfile

import numpy as np

START = dt.date(2021, 3, 1)
EXCEL_EPOCH = dt.date(1899, 12, 30)

CITIES = ["Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург",
          "Казань", "Нижний Новгород", "Челябинск", "Самара", "Омск",
          "Ростов-на-Дону", "Уфа", "Красноярск", "Воронеж", "Пермь",
          "Волгоград", "Краснодар", "Саратов", "Тюмень", "Ижевск", "Барнаул"]
STREETS = ["ул. Ленина", "ул. Мира", "пр. Победы", "ул. Садовая",
           "ул. Гагарина", "ул. Советская", "ул. Молодежная", "ул. Школьная",
           "ул. Лесная", "пр. Космонавтов", "ул. Набережная", "ул. Полевая"]
LAST = ["Иванов", "Смирнов", "Кузнецов", "Попов", "Васильев", "Петров",
        "Соколов", "Михайлов", "Новиков", "Федоров", "Морозов", "Волков"]
FIRST = ["Александр", "Дмитрий", "Максим", "Сергей", "Андрей", "Алексей",
         "Артем", "Илья", "Кирилл", "Михаил", "Никита", "Матвей"]
PATRONYMIC = ["Александрович", "Дмитриевич", "Сергеевич", "Андреевич",
              "Алексеевич", "Михайлович", None]
OPER_TYPES = ["PAYMENT", "WITHDRAW", "DEPOSIT"]
# cards held by each expiring-passport client, blacklisted client and
# expired account: at ~80 transactions per card and day these give the
# day-3 rule 1 and rule 2 rows (the fixture's mart is ~1,100 rows)
TRIGGER_CARDS = {"expiring": 6, "blacklisted": 5, "expired_account": 4}


def day_name(d):
    return d.strftime("%d%m%Y")


def days_of(n):
    return [START + dt.timedelta(days=i) for i in range(n)]


class _Unique:
    """Random digit strings that never repeat within one generator."""

    def __init__(self, rng):
        self.rng, self.seen = rng, set()

    def digits(self, n, fmt=None):
        while True:
            s = "".join(str(x) for x in self.rng.integers(0, 10, n))
            if s[0] != "0" and s not in self.seen:
                self.seen.add(s)
                return fmt(s) if fmt else s


def _sql(v):
    return "null" if v is None else f"'{v}'"


def _masters(rng, scale):
    uniq = _Unique(rng)
    n_clients = max(1, round(50 * scale))
    n_accounts = max(n_clients, round(77 * scale))
    n_cards = max(n_accounts, round(195 * scale))
    k = max(1, round(scale))
    clients = []
    for i in range(n_clients):
        cid = (f"VIP-{uniq.digits(3)}" if rng.random() < 0.06
               else uniq.digits(4))
        clients.append({
            "client_id": cid,
            "last_name": LAST[rng.integers(len(LAST))],
            "first_name": FIRST[rng.integers(len(FIRST))],
            "patronymic": PATRONYMIC[rng.integers(len(PATRONYMIC))],
            "date_of_birth": str(dt.date(1950, 1, 1) + dt.timedelta(
                days=int(rng.integers(0, 18000)))),
            "passport_num": uniq.digits(10, lambda s: f"{s[:4]} {s[4:]}"),
            # null = non-expiring, as in the fixture
            "passport_valid_to": (None if rng.random() < 0.3 else str(
                dt.date(2026, 1, 1) + dt.timedelta(
                    days=int(rng.integers(0, 3000))))),
            "phone": uniq.digits(10, lambda s: f"+7 9{s[1:3]} {s[3:6]} "
                                               f"{s[6:8]} {s[8:]}"),
            "create_dt": "2020-05-01", "update_dt": None})
    # trigger clients: passports expiring on day 2 and blacklisted from
    # day 2, disjoint from each other
    order = rng.permutation(n_clients)
    expiring = [clients[i] for i in order[:k]]
    blacklisted = [clients[i] for i in order[k:2 * k]]
    for c in expiring:
        c["passport_valid_to"] = str(START + dt.timedelta(days=1))
    triggers = {c["client_id"] for c in expiring + blacklisted}
    accounts = []
    for i in range(n_accounts):
        # trigger clients hold one account each
        owner = clients[i] if i < n_clients else clients[
            rng.choice([j for j in range(n_clients)
                        if clients[j]["client_id"] not in triggers])]
        accounts.append({
            "account": uniq.digits(20), "client": owner["client_id"],
            "valid_to": str(dt.date(2024, 1, 1) + dt.timedelta(
                days=int(rng.integers(0, 2000)))),
            "create_dt": "2020-05-01", "update_dt": None})
    plain = [i for i in range(n_accounts)
             if accounts[i]["client"] not in triggers]
    expired = [plain[i] for i in rng.permutation(len(plain))[:k]]
    for i in expired:
        accounts[i]["valid_to"] = str(START + dt.timedelta(days=1))
    # cards per account: the trigger accounts get TRIGGER_CARDS, every
    # other account one, and the rest go to random non-trigger accounts
    expiring_ids = {c["client_id"] for c in expiring}
    want = [1] * n_accounts
    for i, a in enumerate(accounts):
        if a["client"] in expiring_ids:
            want[i] = TRIGGER_CARDS["expiring"]
        elif a["client"] in triggers:
            want[i] = TRIGGER_CARDS["blacklisted"]
    for i in expired:
        want[i] = TRIGGER_CARDS["expired_account"]
    rest = [i for i in plain if i not in expired]
    spare = max(0, n_cards - sum(want))
    for i in rng.choice(rest, spare):
        want[i] += 1
    owners = [i for i in range(n_accounts) for _ in range(want[i])]
    cards = []
    for i in rng.permutation(owners).tolist():
        acc = accounts[i]
        cards.append({
            "card_num": uniq.digits(16, lambda s: " ".join(
                s[j:j + 4] for j in range(0, 16, 4))),
            "account": acc["account"], "create_dt": "2020-05-01",
            "update_dt": None})
    return clients, accounts, cards, blacklisted, uniq


def _write_seeds(path, clients, accounts, cards):
    cols = {
        "cards": ["card_num", "account", "create_dt", "update_dt"],
        "accounts": ["account", "valid_to", "client", "create_dt",
                     "update_dt"],
        "clients": ["client_id", "last_name", "first_name", "patronymic",
                    "date_of_birth", "passport_num", "passport_valid_to",
                    "phone", "create_dt", "update_dt"]}
    with open(path, "w", encoding="utf-8") as f:
        f.write("-- generated seed masters\n")
        for table, rows in (("cards", cards), ("accounts", accounts),
                            ("clients", clients)):
            for r in rows:
                f.write(f"insert into {table} ({', '.join(cols[table])}) "
                        f"values ({', '.join(_sql(r[c]) for c in cols[table])});\n")


def _xml_escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def _col_letter(i):
    return "ABCDEFGHIJKLMNOPQRSTUVWXYZ"[i]


def write_xlsx(path, header, rows, styled_empty=0):
    """Minimal SpreadsheetML package: strings go through the shared-string
    table, ints are numeric cells, and `styled_empty` trailing rows carry
    only a style, the way a spreadsheet keeps formatted-but-blank rows."""
    shared, index = [], {}

    def sst(s):
        if s not in index:
            index[s] = len(shared)
            shared.append(s)
        return index[s]

    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<worksheet xmlns="http://schemas.openxmlformats.org/'
           'spreadsheetml/2006/main"><sheetData>']
    for r, values in enumerate([header] + rows, start=1):
        cells = []
        for c, v in enumerate(values):
            ref = f"{_col_letter(c)}{r}"
            if v is None:
                continue
            if isinstance(v, int):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="s"><v>{sst(v)}</v></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    for r in range(len(rows) + 2, len(rows) + 2 + styled_empty):
        cells = "".join(f'<c r="{_col_letter(c)}{r}" s="1"/>'
                        for c in range(len(header)))
        out.append(f'<row r="{r}" s="1" customFormat="1">{cells}</row>')
    out.append("</sheetData></worksheet>")
    sst_xml = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
               f'2006/main" count="{len(shared)}" uniqueCount="{len(shared)}">'
               + "".join(f"<si><t>{_xml_escape(s)}</t></si>" for s in shared)
               + "</sst>")
    ns = "http://schemas.openxmlformats.org"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'sharedStrings+xml"/>'
            '<Override PartName="/xl/styles.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/'
            'relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<workbook xmlns="{ns}/spreadsheetml/2006/main" xmlns:r="{ns}/'
            'officeDocument/2006/relationships"><sheets><sheet name="Sheet1"'
            ' sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/'
            'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{ns}/officeDocument/2006/'
            'relationships/sharedStrings" Target="sharedStrings.xml"/>'
            f'<Relationship Id="rId3" Type="{ns}/officeDocument/2006/'
            'relationships/styles" Target="styles.xml"/></Relationships>',
        "xl/styles.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<styleSheet xmlns="{ns}/spreadsheetml/2006/main">'
            '<fonts count="1"><font/></fonts>'
            '<fills count="2"><fill><patternFill patternType="none"/></fill>'
            '<fill><patternFill patternType="solid"/></fill></fills>'
            '<borders count="1"><border/></borders>'
            '<cellStyleXfs count="1"><xf/></cellStyleXfs>'
            '<cellXfs count="2"><xf/><xf fillId="1" applyFill="1"/></cellXfs>'
            '</styleSheet>',
        "xl/worksheets/sheet1.xml": "".join(out),
        "xl/sharedStrings.xml": sst_xml,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            # fixed timestamp: same inputs, same bytes
            info = zipfile.ZipInfo(name, date_time=(2021, 3, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body.encode("utf-8"))


def _terminals(rng, scale, uniq):
    n = max(len(CITIES), round(150 * scale))
    terms = []
    for i in range(n):
        kind = "ATM" if rng.random() < 0.35 else "POS"
        tid = ("A" if kind == "ATM" else "P") + uniq.digits(5)
        terms.append({
            "terminal_id": tid, "terminal_type": kind,
            # round-robin keeps every city stocked with terminals
            "terminal_city": CITIES[i % len(CITIES)],
            "terminal_address": _address(rng, CITIES[i % len(CITIES)])})
    return terms


def _address(rng, city):
    return (f"{city}, {STREETS[rng.integers(len(STREETS))]}, "
            f"д. {int(rng.integers(1, 120))}")


def generate(out_dir, scale, days, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "drops"), exist_ok=True)
    clients, accounts, cards, blacklisted, uniq = _masters(rng, scale)
    _write_seeds(os.path.join(out_dir, "ddl_dml.sql"), clients, accounts,
                 cards)
    k = max(1, round(scale))
    terms = _terminals(rng, scale, uniq)
    n_cards = len(cards)
    card_city = rng.integers(0, len(CITIES), n_cards)
    card_nums = np.array([c["card_num"] for c in cards], dtype=object)

    active = {t["terminal_id"]: dict(t) for t in terms}
    added = []
    updated = []
    blacklist = []  # (serial date, passport), cumulative
    next_id = int(rng.integers(10 ** 10, 4 * 10 ** 10))
    for di, day in enumerate(days_of(days)):
        # --- terminal CDC (FIXTURES.md A2's new/update/delete/re-update)
        if di == 1:
            for _ in range(k):
                city = CITIES[int(rng.integers(len(CITIES)))]
                t = {"terminal_id": "P" + uniq.digits(5),
                     "terminal_type": "POS", "terminal_city": city,
                     "terminal_address": _address(rng, city)}
                active[t["terminal_id"]] = t
                added.append(t["terminal_id"])
        if di == 2:
            for tid in added:
                del active[tid]
        if di >= 1:
            pool = sorted(tid for tid in active if tid not in added)
            n_upd = 2 * k if di == 1 else k
            fresh = [pool[i] for i in rng.permutation(len(pool))[:n_upd]]
            picks = updated[:k] if di == 2 else fresh
            for tid in picks:
                t = active[tid]
                t["terminal_address"] = _address(rng, t["terminal_city"])
            if di == 1:
                updated = picks
        snapshot = [active[t] for t in sorted(active)]
        write_xlsx(os.path.join(out_dir, "drops",
                                f"terminals_{day_name(day)}.xlsx"),
                   ["terminal_id", "terminal_type", "terminal_city",
                    "terminal_address"],
                   [[t["terminal_id"], t["terminal_type"],
                     t["terminal_city"], t["terminal_address"]]
                    for t in snapshot])

        # --- cumulative blacklist: ~8 new passports a day per unit scale,
        # plus the blacklisted trigger clients from day 2
        serial = (day - EXCEL_EPOCH).days
        for _ in range(int(rng.integers(6, 10)) * k):
            blacklist.append((serial, uniq.digits(
                10, lambda s: f"{s[:4]} {s[4:]}")))
        if di == 1:
            blacklist.extend((serial, c["passport_num"]) for c in blacklisted)
        write_xlsx(os.path.join(out_dir, "drops",
                                f"passport_blacklist_{day_name(day)}.xlsx"),
                   ["date", "passport"], [list(b) for b in blacklist],
                   styled_empty=int(rng.integers(2, 6)))

        # --- transactions: cards mostly at terminals of their home city
        by_city = {}
        for t in snapshot:
            by_city.setdefault(t["terminal_city"], []).append(
                t["terminal_id"])
        city_terms = [np.array(by_city[c], dtype=object) for c in CITIES]
        n = int(round(15700 * scale * rng.uniform(0.995, 1.005)))
        card = rng.integers(0, n_cards, n)
        secs = rng.integers(0, 86400, n)
        city = card_city[card].copy()
        # rare trips: a transaction in a city other than the card's home
        away = rng.random(n) < 0.6 * k / n
        city[away] = (city[away] + rng.integers(1, len(CITIES),
                                                away.sum())) % len(CITIES)
        term = np.empty(n, dtype=object)
        pick = rng.random(n)
        for c in range(len(CITIES)):
            m = city == c
            arr = city_terms[c]
            term[m] = arr[(pick[m] * len(arr)).astype(int)]
        cents = rng.integers(1000, 10_000_000, n)
        result = np.where(rng.random(n) < 0.9, "SUCCESS", "REJECT")
        otype = np.array(OPER_TYPES, dtype=object)[rng.integers(0, 3, n)]
        rows = list(zip(secs.tolist(), card.tolist(), cents.tolist(),
                        result.tolist(), otype.tolist(), term.tolist()))
        # amount guessing: REJECT -> REJECT -> SUCCESS, decreasing, < 20 min
        for _ in range(2 * k):
            cd = int(rng.integers(n_cards))
            t0 = int(rng.integers(0, 86400 - 1200))
            g1, g2 = int(rng.integers(30, 500)), int(rng.integers(30, 500))
            a = int(rng.integers(500_000, 5_000_000))
            tm = city_terms[card_city[cd]]
            tid = tm[int(rng.integers(len(tm)))]
            rows += [(t0, cd, a, "REJECT", "PAYMENT", tid),
                     (t0 + g1, cd, a - int(rng.integers(1000, 100_000)),
                      "REJECT", "PAYMENT", tid),
                     (t0 + g1 + g2, cd, a - int(rng.integers(150_000, 400_000)),
                      "SUCCESS", "PAYMENT", tid)]
        rows.sort(key=lambda r: (r[0], r[1]))
        base = dt.datetime.combine(day, dt.time())
        lines = ["transaction_id;transaction_date;amount;card_num;oper_type;"
                 "oper_result;terminal"]
        for s, cd, ct, res, op, tid in rows:
            ts = (base + dt.timedelta(seconds=s)).strftime("%Y-%m-%d %H:%M:%S")
            lines.append(f"{next_id};{ts};{ct // 100},{ct % 100:02d};"
                         f"{card_nums[cd]};{op};{res};{tid}")
            next_id += 1
        with open(os.path.join(out_dir, "drops",
                               f"transactions_{day_name(day)}.txt"),
                  "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

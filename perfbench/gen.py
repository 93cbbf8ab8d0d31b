"""Seeded ODS generator for the streaming workloads.

Writes ``topic_log`` lines in the LOG_SCHEMA envelope and Maxwell
``topic_db`` lines in the CDC_SCHEMA envelope as text files, one file per
topic per tick, landed atomically (written under ``_staging`` and renamed
into the watched directory), so the program only ever sees finished files.

Traffic properties: ``mid`` is Zipf-skewed, ~1% of lines are malformed,
and a share of log events carry an event time up to ``OOO_MAX_MS`` before
their creation stamp (out of order, but inside the smallest watermark the
DWS apps use, 2 s).

Alongside the inputs it computes, in pure Python, what the chain must
produce: the row count of every DWD topic and the exact DWS window rows.
Everything is written to a JSON manifest when the generator ends.

Run as its own process::

    python3 perfbench/gen.py --mode backlog --seed 1 --out DIR --manifest M --events 30000 --files 8
    python3 perfbench/gen.py --mode paced --seed 1 --out DIR --manifest M --seconds 12
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import time
from collections import defaultdict

OOO_SHARE = 0.05
OOO_MAX_MS = 1500
DIRTY_SHARE = 0.01
LOG_SHARE = 0.75  # the rest of the ODS lines are CDC records
N_MIDS = 3000
ZIPF_S = 1.2
WINDOW_MS = 10_000
BACKLOG_SPAN_MS = 300_000  # event time a backlog covers
# the paced load: ODS lines per second (about a sixth of the backlog drain
# rate), one file per topic per tick, and generator-clock ms per wall-clock ms
PACED_RATE = 500
PACED_TICK_MS = 250
PACED_SPEEDUP = 16
# watermark delays of the DWS apps (apps.dws_traffic_page_view_window,
# apps.dws_keyword_window); a window is emittable at its end plus the delay
PV_DELAY_MS = 14_000
KW_DELAY_MS = 2_000

# Keyword phrases are whole lexicon words or latin words separated by
# spaces, so the tokenizer's output is the words themselves (no sub-word
# matches): the reference computation can split on spaces.
KEYWORDS = ("苹果", "小米", "电视", "图书", "口红", "海尔", "联想", "冰箱",
            "空调", "iphone", "xiaomi", "4k", "oled", "laptop", "phone")
AR = tuple(f"{i}0000" for i in range(11, 21))
CH = ("xiaomi", "huawei", "oppo", "web", "appstore")
VC = ("v2.1.134", "v2.1.132", "v2.0.1", "v1.9.0")
PAGES = ("home", "good_list", "good_detail", "cart", "trade", "payment", "mine")
START_ENTRIES = ("icon", "notice", "install")
DIC = {"2401": "用户查询", "2402": "商品推广", "2403": "智能推荐", "2404": "促销活动",
       "1101": "支付宝", "1102": "微信", "1103": "银联"}
CDC_NOISE_TABLES = ("user_info", "comment_info", "favor_info", "coupon_use")


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (k ** s) for k in range(1, n + 1)]
    total = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / total
        out.append(acc)
    return out


class Expected:
    """What the chain must produce for the lines generated so far."""

    def __init__(self) -> None:
        self.dwd = {t: 0 for t in ("page", "start", "display", "action", "err", "dirty",
                                   "cart_add", "cancel", "pay_suc")}
        self.pv: dict[tuple, list[int]] = defaultdict(lambda: [0, 0, 0])
        self.kw: dict[tuple, int] = defaultdict(int)
        self.uv: set[tuple] = set()
        self.pv_max_ts = 0
        self.kw_max_ts = 0

    def page(self, rec: dict) -> None:
        c, p, ts = rec["common"], rec["page"], rec["ts"]
        stt = ts // WINDOW_MS * WINDOW_MS // 1000
        row = self.pv[(stt, c["vc"], c["ch"], c["ar"], c["is_new"])]
        row[0] += 1
        row[1] += p["last_page_id"] is None
        row[2] += p["during_time"]
        self.pv_max_ts = max(self.pv_max_ts, ts)
        self.uv.add((c["mid"], time.strftime("%Y-%m-%d", time.gmtime(ts // 1000))))
        if p["last_page_id"] == "search" and p["item_type"] == "keyword":
            for word in p["item"].split(" "):
                self.kw[(stt, word)] += 1
                self.kw_max_ts = max(self.kw_max_ts, ts)

    def to_json(self) -> dict:
        def emitted(max_ts, delay):
            # append mode emits a window once the watermark (max event time
            # minus the delay) reaches its end
            return lambda stt: stt * 1000 + WINDOW_MS <= max_ts - delay

        pv_ok, kw_ok = emitted(self.pv_max_ts, PV_DELAY_MS), emitted(self.kw_max_ts, KW_DELAY_MS)
        return {
            "dwd": self.dwd,
            "pv": sorted([*k, *v] for k, v in self.pv.items() if pv_ok(k[0])),
            "kw": sorted([*k, v] for k, v in self.kw.items() if kw_ok(k[0])),
            "uv": sorted(self.uv),
        }


class OdsModel:
    """Seeded record factory; updates ``expected`` for every line made."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.cdf = _zipf_cdf(N_MIDS, ZIPF_S)
        self.expected = Expected()
        self.next_id = 1
        self.carts: list[dict] = []
        self.orders: list[dict] = []
        self.payments: list[dict] = []

    # ------------------------------------------------------------ topic_log
    def _mid(self) -> int:
        return bisect.bisect_left(self.cdf, self.rng.random())

    def log_line(self, created_ms: int) -> str:
        """One topic_log line created at ``created_ms``."""
        rng, exp = self.rng, self.expected
        ts = created_ms
        if rng.random() < OOO_SHARE:
            ts -= rng.randint(1, OOO_MAX_MS)
        m = self._mid()
        common = {"ar": AR[m % len(AR)], "ch": CH[m % len(CH)], "vc": rng.choice(VC),
                  "mid": f"mid_{m}", "uid": str(m * 7 % 1000), "is_new": str(m % 2),
                  "ba": "Xiaomi", "md": "Xiaomi 10", "os": "Android 11.0"}
        u = rng.random()
        if u < 0.15:
            rec = {"common": common,
                   "start": {"entry": rng.choice(START_ENTRIES),
                             "loading_time": str(rng.randint(100, 9000))},
                   "ts": ts}
            kind = "start"
        else:
            last = None if rng.random() < 0.25 else rng.choice(PAGES + ("search",))
            if last == "search":
                item = " ".join(rng.choice(KEYWORDS) for _ in range(rng.randint(1, 3)))
                item_type = "keyword"
            else:
                item, item_type = str(rng.randint(1, 500)), "sku_id"
            rec = {"common": common,
                   "page": {"page_id": rng.choice(PAGES), "last_page_id": last,
                            "item": item, "item_type": item_type,
                            "during_time": rng.randint(1000, 30000)},
                   "ts": ts}
            if rng.random() < 0.5:
                rec["displays"] = [{"item": str(rng.randint(1, 500)), "item_type": "sku_id",
                                    "pos_id": str(k)} for k in range(rng.randint(1, 3))]
            if rng.random() < 0.3:
                rec["actions"] = [{"action_id": "favor_add", "item": str(rng.randint(1, 500)),
                                   "item_type": "sku_id"} for _ in range(rng.randint(1, 2))]
            kind = "page"
            if u > 0.96:
                rec["err"] = {"error_code": rng.randint(1000, 4000), "msg": "NullPointerException"}
                kind = "err"
        line = json.dumps(rec, ensure_ascii=False)
        if rng.random() < DIRTY_SHARE:
            exp.dwd["dirty"] += 1
            return line[: len(line) // 2]
        exp.dwd[kind] += 1
        if kind == "page":
            exp.dwd["display"] += len(rec.get("displays", ()))
            exp.dwd["action"] += len(rec.get("actions", ()))
            exp.page(rec)
        return line

    # ------------------------------------------------------------ topic_db
    def _cdc(self, table, typ, data, old, created_ms) -> str:
        return json.dumps({"database": "gmall", "table": table, "type": typ,
                           "ts": str(created_ms // 1000), "data": data, "old": old},
                          ensure_ascii=False)

    def cdc_line(self, created_ms: int) -> tuple[str, bool]:
        """One topic_db line; the flag says whether it lands in a DWD topic."""
        rng, exp = self.rng, self.expected
        stamp = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(created_ms // 1000))
        if rng.random() < DIRTY_SHARE:
            return '{"database": "gmall", "table": "cart_info", "da', False
        u = rng.random()
        self.next_id += 1
        if u < 0.25 or (u < 0.45 and not self.carts):
            n = rng.randint(1, 5)
            cart = {"id": str(self.next_id), "user_id": str(rng.randint(1, 1000)),
                    "sku_id": str(rng.randint(1, 500)), "sku_num": str(n),
                    "source_type": rng.choice(("2401", "2402", "2403", "2404"))}
            self.carts.append(cart)
            exp.dwd["cart_add"] += 1
            return self._cdc("cart_info", "insert", cart, None, created_ms), True
        if u < 0.45:
            cart = rng.choice(self.carts)
            old_n = int(cart["sku_num"])
            new_n = max(1, old_n + rng.choice((-2, -1, 1, 2, 3)))
            if new_n == old_n:
                new_n += 1
            cart["sku_num"] = str(new_n)
            lands = new_n > old_n
            exp.dwd["cart_add"] += lands
            return self._cdc("cart_info", "update", dict(cart), {"sku_num": str(old_n)},
                             created_ms), lands
        if u < 0.65 or (u < 0.8 and not self.orders):
            order = {"id": str(self.next_id), "user_id": str(rng.randint(1, 1000)),
                     "province_id": str(rng.randint(1, 34)), "operate_time": stamp,
                     "order_status": "1001"}
            self.orders.append(order)
            return self._cdc("order_info", "insert", order, None, created_ms), False
        if u < 0.8:
            order = self.orders.pop(rng.randrange(len(self.orders)))
            status = "1003" if rng.random() < 0.4 else "1002"
            data = dict(order, order_status=status, operate_time=stamp)
            if status == "1003":
                exp.dwd["cancel"] += 1
            else:
                self.payments.append({"id": str(self.next_id), "user_id": order["user_id"],
                                      "order_id": order["id"],
                                      "payment_type": rng.choice(("1101", "1102", "1103")),
                                      "payment_status": "1601", "callback_time": None})
            return self._cdc("order_info", "update", data, {"order_status": "1001"},
                             created_ms), status == "1003"
        if u < 0.9 and self.payments:
            pay = self.payments.pop(rng.randrange(len(self.payments)))
            data = dict(pay, payment_status="1602", callback_time=stamp)
            exp.dwd["pay_suc"] += 1
            return self._cdc("payment_info", "update", data, {"payment_status": "1601"},
                             created_ms), True
        table = rng.choice(CDC_NOISE_TABLES)
        data = {"id": str(self.next_id), "user_id": str(rng.randint(1, 1000)),
                "create_time": stamp}
        return self._cdc(table, "insert", data, None, created_ms), False


class Lander:
    """Lands files atomically and records, per file, the creation stamps of
    the lines that reach a DWD topic."""

    def __init__(self, out: str) -> None:
        self.out = out
        self.staging = os.path.join(out, "_staging")
        for d in (self.staging, os.path.join(out, "log"), os.path.join(out, "db")):
            os.makedirs(d, exist_ok=True)
        self.files: dict[str, dict] = {}
        self.seq = 0
        self.lines = 0

    def land(self, topic: str, lines: list[str], stamps: list[int], due_ms: int) -> None:
        self.seq += 1
        name = f"{topic}/f{self.seq:06d}.txt"
        tmp = os.path.join(self.staging, f"f{self.seq:06d}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.out, name))
        self.lines += len(lines)
        self.files[name] = {"due": due_ms, "landed": int(time.time() * 1000),
                            "stamps": stamps}


def emit_tick(model: OdsModel, lander: Lander, n: int, t0_ms: int, t1_ms: int,
              due_ms: int) -> None:
    """Create ``n`` ODS lines with creation stamps spread over [t0, t1) of
    the generator's clock and land one log file and one db file, due at
    wall-clock ``due_ms``."""
    log, log_st, db, db_st = [], [], [], []
    for i in range(n):
        created = t0_ms + (t1_ms - t0_ms) * i // max(n, 1)
        if model.rng.random() < LOG_SHARE:
            log.append(model.log_line(created))
            log_st.append(created)
        else:
            line, lands = model.cdc_line(created)
            db.append(line)
            if lands:
                db_st.append(created)
    if log:
        lander.land("log", log, log_st, due_ms)
    if db:
        lander.land("db", db, db_st, due_ms)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--mode", choices=("backlog", "paced"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--events", type=int, help="backlog: ODS lines")
    ap.add_argument("--files", type=int, help="backlog: files per topic")
    ap.add_argument("--seconds", type=float, help="paced: run length")
    args = ap.parse_args()

    model, lander = OdsModel(args.seed), Lander(args.out)
    clock = {"begin": 0, "speedup": 1}
    if args.mode == "backlog":
        # a fixed event-time span ending now, cut into --files ticks
        end = int(time.time() * 1000) // 1000 * 1000
        start = end - BACKLOG_SPAN_MS
        per = args.events // args.files
        for k in range(args.files):
            t0 = start + (end - start) * k // args.files
            t1 = start + (end - start) * (k + 1) // args.files
            emit_tick(model, lander, per, t0, t1, t1)
    else:
        tick = PACED_TICK_MS
        n_ticks = int(args.seconds * 1000 // tick)
        # open loop: tick k is due at begin + (k + 1) * tick on the wall
        # clock whatever the chain does; the generator's clock starts at
        # ``begin`` and runs PACED_SPEEDUP times faster, so more windows
        # close per wall-clock second
        begin = int(time.time() * 1000) // tick * tick + tick
        k_gen = PACED_SPEEDUP
        clock = {"begin": begin, "speedup": k_gen}
        owed = 0.0
        for k in range(n_ticks):
            due = begin + (k + 1) * tick
            delay = due / 1000 - time.time()
            if delay > 0:
                time.sleep(delay)
            owed += PACED_RATE * tick / 1000
            n = int(owed)
            owed -= n
            emit_tick(model, lander, n, begin + k * tick * k_gen, begin + (k + 1) * tick * k_gen,
                      due)
    tmp = args.manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"lines": lander.lines, "files": lander.files, "clock": clock,
                   "expected": model.expected.to_json()}, fh)
    os.replace(tmp, args.manifest)


if __name__ == "__main__":
    main()

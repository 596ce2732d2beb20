"""Seeded `BlockFetcher` for the index_serve workload.

Unlike the demo `FakeChain` (RiskProMint only, account and revert status
both derived from one value), every block here carries every event family
the indexer tick consumes, so all five tick sinks receive rows:

  slot 0              NewBitcoinTransfer (bridge contract)
  slot 1              BitcoinTransferStatusUpdated for block b-3's transfer
  slot 2              StateTransition (MoC state contract)
  slots 3..           exchange mint/redeem (MoC), Transfer (token; a share
                      touch the zero address or the MoC contract and are
                      filtered by the pipeline), or a user-to-user
                      transaction that no watched contract sees

Traffic shape: TXS_PER_BLOCK = 20 is the density the program is sized for
(the `SHARD_BLOCKS` comment in `moc_indexer_spark/app.py`, and the ingest
measurements in PLANS.md and BENCH.md, which all run at 20 txs/block), and
N_USERS = 20 is the population of the program's own demo chain
(`app.USERS`). Accounts come from that fixed population; the revert draw
uses other bits of the per-transaction hash than the account draw, so
every user has confirmed transactions.

A block is a pure function of (seed, block number): executors rebuild it
without shipping data, and `expected_rows` recomputes what each sink must
hold in plain Python from the same function.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from decimal import Decimal

ZERO = "0x" + "00" * 20
MOC = "0x" + "ab" * 20
TOKEN = "0x" + "cd" * 20
BRIDGE = "0x" + "ef" * 20
STATE = "0x" + "12" * 20
CONTRACTS = [MOC, TOKEN, BRIDGE, STATE]
EXCHANGE_EVENTS = (
    "RiskProMint", "RiskProRedeem", "StableTokenMint", "StableTokenRedeem",
    "RiskProxMint", "RiskProxRedeem", "FreeStableTokenRedeem",
)
TXS_PER_BLOCK = 20
N_USERS = 20
GENESIS = dt.datetime(2024, 1, 1)
BLOCK_SECONDS = 30


def users(seed: int) -> list[str]:
    return [
        "0x" + hashlib.sha256(f"user:{seed}:{i}".encode()).hexdigest()[:40]
        for i in range(N_USERS)
    ]


def block_time(block_number: int) -> dt.datetime:
    return GENESIS + dt.timedelta(seconds=BLOCK_SECONDS * block_number)


def transfer_id(seed: int, block_number: int) -> str:
    return hashlib.sha256(f"btc:{seed}:{block_number}".encode()).hexdigest()


class SeededChain:
    """`fetch(block_number) -> list[raw tx dict]` (the BlockFetcher shape)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.users = users(seed)

    def _tx(self, block_number: int, i: int) -> dict:
        # one digest per transaction: its hash, and its draws from the
        # first 16 bytes
        digest = hashlib.sha256(
            f"tx:{self.seed}:{block_number}:{i}".encode()).digest()
        r = int.from_bytes(digest[:16], "big")
        user = self.users[(r >> 8) % len(self.users)]
        # revert draw from bits the account draw does not use
        status = "reverted" if (r >> 64) % 20 == 0 else "confirmed"
        to = None
        log = None
        if i == 0:
            to = BRIDGE
            log = ("NewBitcoinTransfer", BRIDGE, {
                "transferId": transfer_id(self.seed, block_number),
                "btcAddress": "bc1q" + f"{r % 10**12:012d}",
                "nonce": block_number,
                "amountSatoshi": str(10_000 + r % 10**7),
                "feeSatoshi": str(500 + r % 1000),
                "rskAddress": user,
            })
        elif i == 1:
            to = BRIDGE
            if block_number >= 3:
                log = ("BitcoinTransferStatusUpdated", BRIDGE, {
                    "transferId": transfer_id(self.seed, block_number - 3),
                    "newStatus": 2 + (r >> 16) % 3,
                })
        elif i == 2:
            to = STATE
            log = ("StateTransition", STATE, {"newState": (r >> 16) % 4})
        else:
            kind = (r >> 16) % 10
            if kind < 5:
                to = MOC
                event = EXCHANGE_EVENTS[(r >> 24) % len(EXCHANGE_EVENTS)]
                log = (event, MOC, {
                    "account": user,
                    "amount": str(((r >> 32) % 10**6) * 10**15),
                    "reserveTotal": str(((r >> 40) % 10**5 + 1) * 10**15),
                    "commission": str(((r >> 48) % 10**3) * 10**12),
                    "reservePrice": str(42_000 * 10**18),
                    "mocCommissionValue": str(((r >> 56) % 10**3) * 10**12),
                    "mocPrice": str(5 * 10**17),
                    "btcMarkup": "0",
                })
            elif kind < 8:
                to = TOKEN
                other = self.users[(r >> 24) % len(self.users)]
                if other == user:
                    other = self.users[
                        (self.users.index(user) + 1) % len(self.users)
                    ]
                side = (r >> 32) % 10
                src, dst = user, other
                if side == 0:
                    src = ZERO  # mint: filtered by the pipeline
                elif side == 1:
                    dst = MOC  # to the MoC contract: filtered too
                log = ("Transfer", TOKEN, {
                    "from": src, "to": dst,
                    "value": str(((r >> 40) % 10**6 + 1) * 10**14),
                })
            else:
                to = self.users[(r >> 24) % len(self.users)]
        logs = []
        if log is not None:
            name, address, payload = log
            logs = [{"address": address, "logIndex": 0, "event_name": name,
                     "payload": json.dumps(payload)}]
        return {
            "hash": "0x" + digest.hex(),
            "blockNumber": block_number,
            "from": user,
            "to": to,
            "value": str(r % 10**18),
            "gas": 2_000_000,
            "gasPrice": str(6 * 10**7),
            "gas_used": 21_000 + r % 100_000,
            "timestamp": block_time(block_number),
            "logs": logs,
            "status": status,
        }

    def __call__(self, block_number: int) -> list[dict]:
        return [self._tx(block_number, i) for i in range(TXS_PER_BLOCK)]


def expected_rows(chain: SeededChain, last_block: int) -> dict:
    """What each tick sink must hold after blocks 0..last_block, computed
    from the generator alone: row counts per sink, the `transactions` rows
    (for the read checks) and the fastbtc statuses."""
    watched = set(CONTRACTS)
    raw = 0
    tx_rows: list[dict] = []
    transfers = 0
    notifications = 0
    fastbtc: dict[str, int] = {}
    updates: list[tuple[str, int]] = []
    for b in range(last_block + 1):
        for tx in chain(b):
            if tx["to"] not in watched and tx["from"] not in watched:
                continue
            raw += 1
            if tx["status"] != "confirmed" or not tx["logs"]:
                continue
            log = tx["logs"][0]
            p = json.loads(log["payload"])
            name = log["event_name"]
            if name in EXCHANGE_EVENTS:
                tx_rows.append({
                    "block": b,
                    "tx_hash": tx["hash"], "address": p["account"].lower(),
                    "event": name, "created_at": tx["timestamp"],
                    "amount": Decimal(p["amount"]),
                })
            elif name == "Transfer":
                if not {p["from"], p["to"]} & {ZERO, MOC}:
                    transfers += 2  # one row per side
            elif name == "StateTransition":
                notifications += 1
            elif name == "NewBitcoinTransfer":
                fastbtc[p["transferId"]] = 1
            elif name == "BitcoinTransferStatusUpdated":
                updates.append((p["transferId"], p["newStatus"]))
    for tid, status in updates:  # update-only: unknown ids are dropped
        if tid in fastbtc:
            fastbtc[tid] = status
    return {
        "counts": {
            "raw_transactions": raw, "transactions": len(tx_rows),
            "transfers": transfers, "fastbtc": len(fastbtc),
            "notifications": notifications,
        },
        "transactions": tx_rows,
        "fastbtc_status": fastbtc,
    }

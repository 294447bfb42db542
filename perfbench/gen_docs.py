"""Seeded golden-shaped claim documents (FIXTURES.md A2 shape, synthetic values).

Each document has 63 top-level fields and nests 10 levels deep: five
configuration subtrees carry edit and price output per claim line, with
34 ``editData`` triples per price message. The config subtrees differ in
their struct fields (``editAdjValue``, ``isAnalyticsOnly``, ``stateCode``
and ``editData`` appear only in some), so the flatten's schema union
applies. A batch whose widest document has 12 claim lines flattens to
about 5k columns.

The generator stays clear of the default-mode flatten deviations so that
the Spark export can be checked cell for cell against the in-memory
flatten: no digit or snake_case keys, no mixed int/float arrays, one key
set per array path, no empty arrays of objects, depth well under 20, and
doubles with two decimals below 1e6 (Spark and Python print them alike).

Same seed, same bytes: every value comes from one ``random.Random``.
"""

from __future__ import annotations

import datetime
import json
import random

N_STRINGS = 35  # string scalars, the audit sort timestamp included
LONG_FIELDS = (
    "claimRequestId", "age", "claimLinesCount", "editCount", "elapsedMilliseconds",
    "historyHeaderCount", "historyLineCount", "rtaElapsedMilliseconds",
)
DOUBLE_FIELDS = (
    "totalCharges", "totalBasePrice", "totalConfigPrice", "totalEditedPrice",
    "totalFinalPrice", "totalAllowedAmount", "totalConfigAllowedAmount",
)
BOOL_FIELDS = (
    "configurationHasMonitoredEdits", "isClaimManuallyProcessed",
    "isCurrentReprocessedClaim", "isOldReprocessedClaim",
)
STRING_FIELDS = (
    "processedDateTimeUtc", "admissionDate", "sex", "typeOfBill", "claimType",
    "payerId", "payerName", "providerId", "providerName", "providerNpi",
    "providerTaxonomy", "facilityCode", "patientAccountNumber", "memberId",
    "placeOfService", "principalDxCode", "admitDxCode", "dischargeStatus",
    "statementFromDate", "statementToDate", "drgCode", "admitType", "admitSource",
    "billingProviderState", "renderingProviderId", "attendingProviderId",
    "claimFrequencyCode", "clientId", "environmentName", "lineOfBusiness",
    "planCode", "productCode", "regionCode", "submitterId",
)
assert len(STRING_FIELDS) + 1 == N_STRINGS  # plus the audit sort timestamp
SORT_TS = "auditProcessedDateTimeUtc"
ID_COL = "claimRequestId"

# Config subtree name -> (edit header has editAdjValue/isAnalyticsOnly,
# edit line messages have stateCode, price messages have editData).
CONFIGS = {
    "userConfiguration1": (True, True, True),
    "userConfiguration2": (True, False, True),
    "monitoredEditsConfig": (False, True, False),
    "pricingOnlyConfig": (False, False, False),
    "medicareConfig": (True, True, False),
}
EDIT_DATA_TRIPLES = 34
MAX_LINES = 12
BASE_TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _money(rng: random.Random) -> float:
    return round(rng.uniform(1.0, 99999.0), 2)


def _word(rng: random.Random, n: int = 6) -> str:
    return "".join(rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZ23456789") for _ in range(n))


def _edit_message(rng: random.Random, adj: bool, state: bool) -> dict:
    m = {
        "editId": _word(rng, 5),
        "editMsgText": f"edit {_word(rng, 8)}",
        "editDisposition": rng.randint(0, 9),
        "editAdjType": rng.randint(0, 4),
    }
    if adj:
        m["editAdjValue"] = str(rng.randint(0, 500))
        m["isAnalyticsOnly"] = rng.random() < 0.5
    if state:
        m["stateCode"] = rng.choice(["CA", "NY", "TX", "WA", "FL"])
    return m


def _price_fields(rng: random.Random) -> dict:
    return {
        "pricerId": _word(rng, 4),
        "msgText": f"price {_word(rng, 6)}",
        "disposition": rng.randint(0, 9),
        "charges": _money(rng),
        "basePrice": _money(rng),
        "configPrice": _money(rng),
        "editedPrice": _money(rng),
        "finalPrice": _money(rng),
        "perUnitPrice": _money(rng),
    }


def _price_message(rng: random.Random, edit_data: bool) -> dict:
    m = _price_fields(rng)
    m["configurationInfo"] = {
        "coveredServiceSeqNo": rng.randint(0, 99),
        "fallbackCondition": rng.randint(0, 5),
        "fallbackSeqNo": rng.randint(0, 9),
        "isLesserOfChargesWithinCoveredService": rng.random() < 0.5,
        "pricerGroupWithinFallback": rng.randint(0, 9),
        "lesserOfGreaterOfPricers": [],
    }
    if edit_data:
        m["editData"] = [
            {
                "displayName": f"Field {k}",
                "symbolicName": f"field{k}",
                "value": str(rng.randint(0, 10_000)),
            }
            for k in range(EDIT_DATA_TRIPLES)
        ]
    return m


def _config(rng: random.Random, n_lines: int, shape: tuple) -> dict:
    adj, state, edit_data = shape
    return {
        "claimProcessingStatus": rng.choice(["Processed", "Pended", "Denied"]),
        "configurationNumber": _word(rng, 4),
        "configurationVersion": str(rng.randint(1, 40)),
        "editCount": rng.randint(0, 30),
        "editOverrideCount": rng.randint(0, 5),
        "elapsedMilliseconds": rng.randint(1, 900),
        "isValid": rng.random() < 0.9,
        "priceDisposition": rng.choice(["Priced", "NotPriced"]),
        "totalBasePrice": _money(rng),
        "totalConfigAllowedAmount": _money(rng),
        "totalConfigPrice": _money(rng),
        "totalEditedPrice": _money(rng),
        "totalFinalPrice": _money(rng),
        "rawClaimOutput": {
            "finalConfiguration": {
                "configurationNumber": _word(rng, 4),
                "configurationVersion": rng.randint(1, 40),
            },
            "editOutput": {
                "header": [_edit_message(rng, adj, False) for _ in range(rng.randint(1, 3))],
                "lines": [
                    {
                        "lineNumber": i + 1,
                        "messages": [
                            _edit_message(rng, adj, state) for _ in range(rng.randint(1, 2))
                        ],
                    }
                    for i in range(n_lines)
                ],
            },
            "priceOutput": {
                "header": [_price_fields(rng)],
                "lines": [
                    {"lineNumber": i + 1, "messages": [_price_message(rng, edit_data)]}
                    for i in range(n_lines)
                ],
            },
        },
    }


def make_document(rng: random.Random, claim_id: int, audit_ts: str, n_lines: int) -> dict:
    """One claim document with ``n_lines`` claim lines (1..12)."""
    doc: dict = {ID_COL: claim_id, SORT_TS: audit_ts}
    for f in STRING_FIELDS:
        doc[f] = f"{f[:3]}-{_word(rng)}"
    for f in LONG_FIELDS[1:]:
        doc[f] = rng.randint(0, 5000)
    doc["claimLinesCount"] = n_lines
    for f in DOUBLE_FIELDS:
        doc[f] = _money(rng)
    for f in BOOL_FIELDS:
        doc[f] = rng.random() < 0.5
    doc["headerLookupFields"] = {"LengthOfStay": rng.randint(0, 30)}
    doc["valueCodes"] = {"A2": [_money(rng)], "B1": [_money(rng), _money(rng)]}
    doc["secondaryDxCodes"] = [_word(rng, 5) for _ in range(rng.randint(1, 6))]
    doc["secondaryPresentOnAdmissions"] = [rng.choice(["Y", "N", ""]) for _ in range(3)]
    for name, shape in CONFIGS.items():
        doc[name] = _config(rng, n_lines, shape)
    return doc


def make_documents(seed: int, n: int, first_id: int = 1, max_lines: int = MAX_LINES) -> list[dict]:
    """``n`` documents with ascending (audit time, claim id) sort keys,
    one second apart from ``BASE_TS``. Every sixth document (and the
    first) has ``max_lines`` lines, so any batch of six or more flattens
    to the widest shape (~5k columns at the full 12 lines)."""
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        ts = (BASE_TS + datetime.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        n_lines = max_lines if i % 6 == 0 else rng.randint(1, max_lines)
        docs.append(make_document(rng, first_id + i, ts, n_lines))
    return docs


def dumps_lines(docs: list[dict]) -> bytes:
    """JSON Lines bytes: one document per line, insertion key order."""
    return "".join(json.dumps(d) + "\n" for d in docs).encode()

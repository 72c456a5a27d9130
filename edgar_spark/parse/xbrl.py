"""XBRL tag → financial-data-type dimension (reference xbrltags.go:11-137).

The map carries both the GAAP ``defref_us-gaap_X`` form and the bare ``X``
form; unknown keys with exactly three ``_``-separated parts fall back to a
lookup of part[2] (company-specific prefixes such as ``defref_msft_X``,
xbrltags.go:119-137).

At Spark level this is a broadcast dimension (see
``edgar_spark.model.consolidate``); inside the Arrow-batched parse UDF the
plain dict is exact and costs one hash probe per row.
"""

from __future__ import annotations

import html
import re
from typing import Optional

# finDataType display strings (data_def.go:52-78)
FT_SHARECOUNT = "Shares Outstanding"
FT_REVENUE = "Revenue"
FT_COST_OF_REVENUE = "Cost Of Revenue"
FT_GROSS_MARGIN = "Gross Margin"
FT_OP_INCOME = "Operational Income"
FT_OP_EXPENSE = "Operational Expense"
FT_NET_INCOME = "Net Income"
FT_OP_CASH_FLOW = "Operating Cash Flow"
FT_CAPEX = "Capital Expenditure"
FT_LDEBT = "Long-Term debt"
FT_SDEBT = "Short-Term debt"
FT_CLIAB = "Current Liabilities"
FT_CASSETS = "Current Assets"
FT_ASSETS = "Total Assets"
FT_LIAB = "Total Liabilities"
FT_CASH = "Cash"
FT_GOODWILL = "Goodwill"
FT_INTANGIBLE = "Intangibles"
FT_SECURITIES = "Securities"
FT_DEFERRED = "Deferred revenue"
FT_RETAINED = "Retained Earnings"
FT_EQUITY = "Total Shareholder Equity"
FT_DIVIDEND = "Dividends paid"
FT_WASHARES = "Weighted Average Share Count"
FT_DPS = "Dividend Per Share"
FT_INTEREST = "Interest paid"
FT_UNKNOWN = "Unknown"


def _both(bare: str, ft: str) -> dict:
    return {f"defref_us-gaap_{bare}": ft, bare: ft}


XBRL_TAGS: dict = {}
# Balance Sheet info (xbrltags.go:13-44)
for _bare, _ft in [
    ("StockholdersEquity", FT_EQUITY),
    ("RetainedEarningsAccumulatedDeficit", FT_RETAINED),
    ("LiabilitiesCurrent", FT_CLIAB),
    ("AssetsCurrent", FT_CASSETS),
    ("Assets", FT_ASSETS),
    ("Liabilities", FT_LIAB),
    ("CashAndCashEquivalentsAtCarryingValue", FT_CASH),
    ("Goodwill", FT_GOODWILL),
    ("IntangibleAssetsNetExcludingGoodwill", FT_INTANGIBLE),
    ("LongTermDebtNoncurrent", FT_LDEBT),
    ("LongTermDebtAndCapitalLeaseObligations", FT_LDEBT),
    ("ShortTermBorrowings", FT_SDEBT),
    ("DebtCurrent", FT_SDEBT),
    ("LongTermDebtAndCapitalLeaseObligationsCurrent", FT_SDEBT),
    ("DeferredRevenueCurrent", FT_DEFERRED),
    (
        "RetainedEarningsAccumulatedDeficitAndAccumulatedOtherComprehensiveIncomeLossNetOfTax",
        FT_RETAINED,
    ),
]:
    XBRL_TAGS.update(_both(_bare, _ft))

# Operations sheet info (xbrltags.go:47-90)
for _bare, _ft in [
    ("SalesRevenueNet", FT_REVENUE),
    ("Revenues", FT_REVENUE),
    ("RevenueFromContractWithCustomerExcludingAssessedTax", FT_REVENUE),
    ("CostOfGoodsAndServicesSold", FT_COST_OF_REVENUE),
    ("CostOfPurchasedOilAndGas", FT_COST_OF_REVENUE),
    ("CostOfGoodsSold", FT_COST_OF_REVENUE),
    (
        "CostOfGoodsSoldExcludingAmortizationOfAcquiredIntangibleAssets",
        FT_COST_OF_REVENUE,
    ),
    ("GrossProfit", FT_GROSS_MARGIN),
    ("OperatingExpenses", FT_OP_EXPENSE),
    ("CostsAndExpenses", FT_OP_EXPENSE),
    ("OtherCostAndExpenseOperating", FT_OP_EXPENSE),
    ("OperatingIncomeLoss", FT_OP_INCOME),
    (
        "IncomeLossFromContinuingOperationsIncludingPortionAttributableToNoncontrollingInterest",
        FT_OP_INCOME,
    ),
    ("IncomeLossIncludingPortionAttributableToNoncontrollingInterest", FT_OP_INCOME),
    (
        "IncomeLossFromContinuingOperationsBeforeIncomeTaxesMinorityInterestAndIncomeLossFromEquityMethodInvestments",
        FT_OP_INCOME,
    ),
    (
        "IncomeLossFromContinuingOperationsBeforeIncomeTaxesExtraordinaryItemsNoncontrollingInterest",
        FT_OP_INCOME,
    ),
    ("NetIncomeLoss", FT_NET_INCOME),
    ("ProfitLoss", FT_NET_INCOME),
    ("NetIncomeLossAvailableToCommonStockholdersBasic", FT_NET_INCOME),
    ("WeightedAverageNumberOfDilutedSharesOutstanding", FT_WASHARES),
    ("CommonStockDividendsPerShareDeclared", FT_DPS),
]:
    XBRL_TAGS.update(_both(_bare, _ft))

# defref-only entry: the bare form is absent in the reference map
# (xbrltags.go:53 has no bare "CostOfRevenue"; :72-73 has no bare
# IncomeLossIncluding… defref counterpart asymmetries handled above)
XBRL_TAGS["defref_us-gaap_CostOfRevenue"] = FT_COST_OF_REVENUE

# Cash flow sheet info (xbrltags.go:93-112)
for _bare, _ft in [
    ("NetCashProvidedByUsedInOperatingActivities", FT_OP_CASH_FLOW),
    ("NetCashProvidedByUsedInOperatingActivitiesContinuingOperations", FT_OP_CASH_FLOW),
    ("PaymentsToAcquirePropertyPlantAndEquipment", FT_CAPEX),
    ("PaymentsToAcquireProductiveAssets", FT_CAPEX),
    ("CapitalExpendituresAndInvestments", FT_CAPEX),
    ("PaymentsOfDividends", FT_DIVIDEND),
    ("PaymentsOfDividendsCommonStock", FT_DIVIDEND),
    ("InterestPaidNet", FT_INTEREST),
    ("InterestAndDebtExpense", FT_INTEREST),
    ("InterestIncomeExpenseNet", FT_INTEREST),
]:
    XBRL_TAGS.update(_both(_bare, _ft))

# Entity sheet information (xbrltags.go:114-115) — dei namespace
XBRL_TAGS["defref_dei_EntityCommonStockSharesOutstanding"] = FT_SHARECOUNT
XBRL_TAGS["EntityCommonStockSharesOutstanding"] = FT_SHARECOUNT


def fin_data_type_from_tag(key: str) -> str:
    """xbrltags.go:119-137 — exact lookup, then the non-GAAP fallback: split
    the key on ``_``; if exactly 3 parts, look up part[2]."""
    ft = XBRL_TAGS.get(key)
    if ft is not None:
        return ft
    parts = key.split("_")
    if len(parts) == 3:
        ft = XBRL_TAGS.get(parts[2])
        if ft is not None:
            return ft
    return FT_UNKNOWN


# A row yields a fact only if its first cell ``data[0]`` maps to a known
# type, i.e. it is a key of XBRL_TAGS or ``a_b_K`` with K a key. Either way
# it ends with the last ``_``-separated part of a key, and ``data[0]`` is
# one of: the ``'…'`` segment of an unescaped ``onclick`` value (followed
# there by ``'``), an unescaped quoted ``href`` value (followed by its
# closing quote), or a stripped, re-escaped text run (followed by
# whitespace, then the ``<`` of the next tag). Entity-unescaping a row
# keeps each value and text run intact — no entity name holds a quote or a
# ``<``. A script or style body is not unescaped by the tokenizer, but
# there a key end follows ``_``, whitespace or ``>``, which no entity name
# holds either, so unescaping leaves it in place. Hence a row whose raw
# text, unescaped if it holds ``&``, has no key end followed by a quote or
# by ``\s*<`` cannot yield a fact.
_KEY_ENDS = sorted({k.rsplit("_", 1)[-1] for k in XBRL_TAGS})
_KEY_END_RE = re.compile(r"(?:%s)(?=['\"]|\s*<)" % "|".join(map(re.escape, _KEY_ENDS)))


def may_hold_fact(row: str) -> bool:
    """False only if the raw row text cannot yield a known ``data[0]`` (see
    ``_KEY_END_RE``)."""
    if "&" in row:
        row = html.unescape(row)
    return _KEY_END_RE.search(row) is not None


def xbrl_tag_from_onclick(onclick: str) -> Optional[str]:
    """utils.go:81-91 getFinDataXBRLTag — the onclick must contain ``showAR``,
    split on single quotes into exactly 3 parts, and the middle part must
    contain ``defref``."""
    if "showAR" in onclick:
        d = onclick.split("'")
        if len(d) == 3 and "defref" in d[1]:
            return d[1]
    return None

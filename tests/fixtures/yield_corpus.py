"""Labeled ~110-deal corpus for end-to-end crawler yield parity
(VERDICT r5 item 6).

The reference's own acceptance record is output.csv (1,375 accepted of
1,702 deals, 80.8% yield) plus logs.txt's failure taxonomy:
  292 "No relevant document found"        (17.2%)
   32 "Confirmed no background section"    (1.9%)
    3 "No document found"                  (0.2%)
   20 "[x] FLAGGED for Manual Inspection"  (1.4% of the ~1,400
      crawler-accepted deals — a SEPARATOR-stage outcome: the stored
      document fails the separator's single-pass chunk locate,
      SeperatorHandler.py:69-77)
This corpus mirrors those proportions at 110 deals with every deal
LABELED with its expected class, so the pipeline's accept set and its
reject *reasons* are asserted exactly — not just an aggregate rate.
Flagged deals count as crawler ACCEPTS (they are in output.csv); the
flag is the downstream QA class.

All text is original; it reuses the filing *shapes* from
tests/fixtures/filings.py (TOC blocks, wrapped prose, section-title
variants, hyphen retry, decoy documents).
"""

from __future__ import annotations

from .filings import NARRATIVE, TOC_BLOCK, _filing

N_ACCEPT = 86  # crawler accepts = 86 + 2 flagged = 88 / 110 = 80.0% vs 80.8%
N_FLAGGED = 2  # 2 / 110 = 1.8% vs the reference's 20 / ~1,400 = 1.4%
N_NO_RELEVANT = 18
N_NO_SECTION = 2
N_NO_DOC = 1  # 1 with zero filings + (separately) 1 with out-of-window filing

TITLES = [
    "Background of the Merger",
    "Background of the Offer",
    "Background of the Acquisition",
    "Background of the Transaction",
    "Background",
]

_SYL = [
    "Bel", "Cor", "Dan", "Fen", "Gil", "Hart", "Jor", "Kel", "Lan", "Mar",
    "Nor", "Pel", "Quin", "Ros", "Sal", "Tor", "Ursa", "Vel", "Win", "Xan",
]

# month/day spread hits both window-wrap edges (Jan → lb wraps the year,
# Nov/Dec → ub wraps) and a day-overflow case (the 31st)
_DATES = ["1/15/2001", "3/31/2002", "6/10/2003", "9/9/2002", "11/30/2001", "12/22/2004"]


def _name(i: int, side: str) -> str:
    a = _SYL[i % len(_SYL)]
    b = _SYL[(i * 7 + 3) % len(_SYL)].lower()
    kind = "Systems" if side == "a" else "Holdings"
    suffix = "Inc" if (i + len(side)) % 2 == 0 else "Corp"
    return f"{a}{b} {kind} {i} {suffix}"


def _iso_from_mdy(mdy: str) -> str:
    m, d, y = mdy.split("/")
    return f"{y}-{int(m):02d}-{int(d):02d}"


def flagged_filing(a: str, b: str) -> str:
    """A filing the crawler's two-pass locate accepts and the separator's
    single-pass locate rejects (see the flagged_manual_inspection block of
    ``build_yield_corpus``)."""
    passage = (
        "On January 12, representatives of both parties met with their financial "
        "advisors to review strategic alternatives and the proposed exchange ratio in detail.\n"
        "The board then instructed management to proceed with confirmatory diligence "
        "and to negotiate definitive documentation with outside counsel present.\n"
        "Following further negotiation of the termination provisions, the board "
        "unanimously approved the agreement and recommended it to shareholders.\n"
    )
    return (
        f"SECURITIES AND EXCHANGE COMMISSION\n\nS-4\n\nRegistration "
        f"statement of {a} and {b}.\n\n"
        "Certain background information concerning the companies is provided herein.\n\n"
        "TABLE OF CONTENTS\n\n"
        "Summary of the Transaction....3\n\n"
        "Opinion of the Financial Advisor....24\n\n"
        "Interests of Directors....31\n\n"
        "Selected Financial Data....44\n\n"
        "Background of the Merger\n\n" + passage
    )


def build_yield_corpus() -> tuple[list[tuple], list[dict], dict[int, str]]:
    """Returns (deals, filings, expected) where deals are
    (main_index, announcement_date, company_a, company_b) tuples, filings
    are dicts with a filing_date column, and expected maps
    main_index -> status label."""
    deals: list[tuple] = []
    filings: list[dict] = []
    expected: dict[int, str] = {}
    idx = 0

    def add_deal(a: str, b: str, status: str) -> tuple[int, str]:
        nonlocal idx
        date = _DATES[idx % len(_DATES)]
        deals.append((idx, date, a, b))
        expected[idx] = status
        idx += 1
        return idx - 1, date

    def add_filing(i: int, a: str, b: str, body: str, date: str, n: int = 0) -> None:
        filings.append(
            {
                "main_index": i,
                "company_a": a,
                "company_b": b,
                "url": f"https://www.sec.gov/Archives/edgar/data/{5000 + i}/00050{i:03d}{n}.txt",
                "content": body,
                "filing_date": _iso_from_mdy(date),
            }
        )

    # -- accepted: both names in the header, a real background section.
    # Every 7th uses a hyphenated company_a whose filing text is
    # de-hyphenated, so only the hyphen->space retry accepts it.
    for k in range(N_ACCEPT):
        a, b = _name(idx, "a"), _name(idx, "b")
        text_a = a
        if k % 7 == 3:
            a = a.replace(" ", "-", 1)       # deal name is hyphenated
            text_a = a.replace("-", " ")     # filing text is not
        i, date = add_deal(a, b, "accepted")
        body = _filing(
            text_a,
            b,
            TITLES[k % len(TITLES)],
            NARRATIVE.format(initiator=b, reason="expand the combined market reach")
            + f" Representatives of both parties met again on deal {i}.",
        )
        add_filing(i, a, b, body, date)
        # every 5th accepted deal also gets a presence-passing decoy with
        # no section — the winner must still be the section-bearing doc
        if k % 5 == 2:
            decoy = (
                f"SECURITIES AND EXCHANGE COMMISSION\n\nS-4\n\nRegistration "
                f"statement of {text_a} and {b}.\n\n" + TOC_BLOCK
                + ("General corporate information and routine disclosures follow. " * 40)
            )
            add_filing(i, a, b, decoy, date, n=1)

    # -- flagged_manual_inspection: the crawler's two-pass locate accepts
    # (specific title phrase in a later sentence; the custom TOC has no
    # 'Background' entry, so the crawler's TOC check anchors at the real
    # title), but the separator's SINGLE-pass locate — bare 'Background'
    # inside the multi-phrase list, SeperatorHandler.py:68 — matches the
    # early decoy sentence first, anchoring is_not_toc inside the TOC run
    # (toc_like >= 3, para_like < 3 from the decoy) → no background chunk
    # → '[x] FLAGGED for Manual Inspection' (SeperatorHandler.py:69-77)
    for _ in range(N_FLAGGED):
        a, b = _name(idx, "a"), _name(idx, "b")
        i, date = add_deal(a, b, "flagged_manual_inspection")
        add_filing(i, a, b, flagged_filing(a, b), date)

    # -- no_relevant_document: candidates exist, company_b never appears
    for _ in range(N_NO_RELEVANT):
        a, b = _name(idx, "a"), _name(idx, "b")
        i, date = add_deal(a, b, "no_relevant_document")
        body = _filing(
            a,
            "an unnamed counterparty",
            TITLES[0],
            NARRATIVE.format(initiator=a, reason="remain independent"),
        )
        add_filing(i, a, b, body, date)

    # -- no_background_section: presence passes, cascade finds nothing
    for _ in range(N_NO_SECTION):
        a, b = _name(idx, "a"), _name(idx, "b")
        i, date = add_deal(a, b, "no_background_section")
        body = (
            f"SECURITIES AND EXCHANGE COMMISSION\n\nS-4\n\nRegistration "
            f"statement of {a} and {b}.\n\n" + TOC_BLOCK
            + ("General corporate information and routine disclosures follow. " * 40)
        )
        add_filing(i, a, b, body, date)

    # -- no_document: zero filings at all
    for _ in range(N_NO_DOC):
        add_deal(_name(idx, "a"), _name(idx, "b"), "no_document")

    # -- no_document via the date window: a perfect filing dated two years
    # after the announcement — outside [lb, ub], so the date-bounded
    # search never sees it
    a, b = _name(idx, "a"), _name(idx, "b")
    i, date = add_deal(a, b, "no_document")
    body = _filing(
        a, b, TITLES[0],
        NARRATIVE.format(initiator=a, reason="expand the combined market reach"),
    )
    late = date.split("/")
    late_date = f"{late[0]}/{late[1]}/{int(late[2]) + 2}"
    add_filing(i, a, b, body, late_date)

    return deals, filings, expected

"""Declarative table catalog (SURVEY.md §7 step 1) — the single source
of truth the reference scatters across config.py:36-72 (primary keys),
mm_bronze_silver.py:9-167 (rename maps) and mm_bronze_silver.py:171-182
(order columns), with its conflicts resolved:

- ``order_by = ["updated_on"]`` is canonical (the silver-side value;
  the audit column exists by then — mm_source_to_bronze.py:153) over
  config.py's empty ``orderByCol: [""]``;
- table naming follows the reference's derivation rule
  (mm_source_to_bronze.py:124-127): ``claim.txt → claim``, else
  ``claim<suffix>.txt → claim_<suffix>``;
- child-table primary keys are ``(claim_number, row_id)``, not the
  reference registry's bare ``claimnumber`` (config.py:36-72): a claim
  has MANY payments/activities/products, so deduping children on
  claim_number alone would keep one arbitrary row per claim and
  silently drop the rest. ``row_id`` is the per-row source identifier
  every child extract carries (the ``rowid`` column in _CHILD_COMMON).

Per-table rename maps are enforced per table (never flattened across
tables — SURVEY.md §7 risk 'Flattened rename maps').
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TableSpec:
    name: str                      # conformed table name (claim, claim_activity, …)
    source_file: str               # reference extract file name (claim.txt, …)
    primary_key: list[str]         # silver-side pk columns
    order_by: list[str]            # latest-wins ordering for dedupe/merge
    rename: dict[str, str]         # raw → conformed column names
    ts_columns: list[str] = field(default_factory=list)  # conformed cols to type as timestamp


def derive_table_name(file_name: str) -> str:
    """Reference Q5 (mm_source_to_bronze.py:124-127): claim.txt→claim,
    claimactivity.txt→claim_activity, claimadditionalcharge.txt→
    claim_additionalcharge, …"""
    if file_name == "claim.txt":
        return "claim"
    return file_name.replace("claim", "claim_").replace(".txt", "")


def _ident(*names: str) -> dict[str, str]:
    return {n: n for n in names}


CLAIM_RENAME: dict[str, str] = {
    "claimid": "claim_id",
    "accountid": "account_id",
    "claimnumber": "claim_number",
    "claimtype": "claim_type",
    "statuscode": "status_code",
    "statuscodeid": "status_code_id",
    "reasoncodeid": "reason_code_id",
    "claimrep": "claim_rep",
    "companycode": "company_code",
    "claimant": "claim_ant",
    "claimantcode": "claim_ant_code",
    "claimantline1": "claim_ant_line1",
    "claimantline2": "claim_ant_line2",
    "claimantline3": "claim_ant_line3",
    "claimantcontactphone": "claim_ant_contact_phone",
    "shippercode": "shipper_code",
    "shipperline1": "shipper_line1",
    "shipperline2": "shipper_line2",
    "shipperline3": "shipper_line3",
    "billladingcarrier": "bill_lading_carrier",
    "deliverycarrier": "delivery_carrier",
    "carrierclaimnumber": "carrier_claim_number",
    "carrierbol": "carrier_bol",
    "carrierscac": "carrier_scac",
    "carriercode": "carrier_code",
    "carrierline1": "carrier_line1",
    "carrierline2": "carrier_line2",
    "carrierline3": "carrier_line3",
    "customercode": "customer_code",
    "customerline1": "customer_line1",
    "customerline2": "customer_line2",
    "customerline3": "customer_line3",
    "originterminal": "origin_terminal",
    "destinationterminal": "destination_terminal",
    "transportationmode": "transportation_mode",
    "vehiclenumber": "vehicle_number",
    "inoutbound": "in_out_bound",
    "cancelreason": "cancel_reason",
    "rejectedreason": "rejected_reason",
    "denialreason": "denial_reason",
    "approvalreason": "approval_reason",
    "claimgroup": "claim_group",
    "originliabilitypct": "origin_liability_pct",
    "destinationliabilitypct": "destination_liability_pct",
    "legalliabilityreserves": "legal_liability_reserves",
    "transmittalamount": "transmittal_amount",
    "deniedamount": "denied_amount",
    "freightamount": "freight_amount",
    "addlchargesamount": "addl_charges_amount",
    "totalamount": "total_amount",
    "paymentamount": "payment_amount",
    "outstandingamount": "outstanding_amount",
    "deliverydate": "delivery_date",
    "shipmentdate": "shipment_date",
    "updatedate": "update_date",
    "datecreated": "date_created",
    "datefiled": "date_filed",
    "datemailed": "date_mailed",
    "dateacknowledged": "date_acknowledged",
    "dateclosed": "date_closed",
    "datepaid": "date_paid",
    "datereopened": "date_reopened",
    "osdsubmitdate": "osd_submit_date",
    "datereimburse": "date_reimburse",
    "datecancelled": "date_cancelled",
    "daterejected": "date_rejected",
    "datedenied": "date_denied",
    "dateapproval": "date_approval",
    **_ident(
        "reason", "company", "contact", "shipper", "carrier", "customer",
        "comments",
    ),
}

CLAIM_TS_COLUMNS = [
    "delivery_date", "shipment_date", "update_date", "date_created",
    "date_filed", "date_mailed", "date_acknowledged", "date_closed",
    "date_paid", "date_reopened", "osd_submit_date", "date_reimburse",
    "date_cancelled", "date_rejected", "date_denied", "date_approval",
]

_CHILD_COMMON = {"rowid": "row_id", "claimnumber": "claim_number", "accountid": "account_id"}

TABLES: dict[str, TableSpec] = {
    spec.name: spec
    for spec in [
        TableSpec(
            name="claim",
            source_file="claim.txt",
            primary_key=["claim_number"],
            order_by=["updated_on"],
            rename=CLAIM_RENAME,
            ts_columns=CLAIM_TS_COLUMNS,
        ),
        TableSpec(
            name="claim_activity",
            source_file="claimactivity.txt",
            primary_key=["claim_number", "row_id"],
            order_by=["updated_on"],
            rename={**_CHILD_COMMON, "display": "display",
                    "dateof": "date_of", "datecreated": "date_created"},
            ts_columns=["date_of", "date_created"],
        ),
        TableSpec(
            name="claim_additionalcharge",
            source_file="claimadditionalcharge.txt",
            primary_key=["claim_number", "row_id"],
            order_by=["updated_on"],
            rename={**_CHILD_COMMON, "chargetype": "charge_type",
                    "description": "description", "amount": "amount",
                    "datecreated": "date_created"},
            ts_columns=["date_created"],
        ),
        TableSpec(
            name="claim_additionalinfo",
            source_file="claimadditionalinfo.txt",
            primary_key=["claim_number", "row_id"],
            order_by=["updated_on"],
            rename={**_CHILD_COMMON, "customfield": "custom_field",
                    "value": "value", "datecreated": "date_created"},
            ts_columns=["date_created"],
        ),
        TableSpec(
            # QUIRK preserved from the reference (SURVEY.md §1.3): the
            # claim_diary rename map omits datecreated, so silver keeps
            # the raw name; bronze still derives year_month from it.
            name="claim_diary",
            source_file="claimdiary.txt",
            primary_key=["claim_number", "row_id"],
            order_by=["updated_on"],
            rename={**_CHILD_COMMON, "dateof": "date_of",
                    "lastupdatedname": "last_updated_name",
                    "category": "category", "comments": "comments"},
            ts_columns=["date_of"],
        ),
        TableSpec(
            name="claim_document",
            source_file="claimdocument.txt",
            primary_key=["claim_number", "row_id"],
            order_by=["updated_on"],
            rename={**_CHILD_COMMON, "display": "display", "value": "value",
                    "dateof": "date_of", "datecreated": "date_created"},
            ts_columns=["date_of", "date_created"],
        ),
        TableSpec(
            name="claim_payment",
            source_file="claimpayment.txt",
            primary_key=["claim_number", "row_id"],
            order_by=["updated_on"],
            rename={**_CHILD_COMMON,
                    "payee": "payee", "payeecode": "payee_code",
                    "payeeline1": "payee_line1", "payeeline2": "payee_line2",
                    "payeeline3": "payee_line3",
                    "paymenttype": "payment_type",
                    "paymentamount": "payment_amount",
                    "paymentdate": "payment_date",
                    "comments": "comments",
                    "requestedby": "requested_by",
                    "requestdate": "request_date",
                    "approvedby": "approved_by",
                    "approvaldate": "approval_date",
                    "checknumber": "check_number",
                    "checkdate": "check_date",
                    "transtype": "trans_type",
                    "transnumber": "trans_number",
                    "transdate": "trans_date",
                    "datecreated": "date_created"},
            ts_columns=["payment_date", "request_date", "approval_date",
                        "check_date", "trans_date", "date_created"],
        ),
        TableSpec(
            name="claim_product",
            source_file="claimproduct.txt",
            primary_key=["claim_number", "row_id"],
            order_by=["updated_on"],
            rename={**_CHILD_COMMON,
                    "itemnumber": "item_number", "description": "description",
                    "NMFC": "NMFC", "quantity": "quantity",
                    "unitcost": "unit_cost", "weight": "weight",
                    "linetotal": "line_total", "datecreated": "date_created"},
            ts_columns=["date_created"],
        ),
    ]
}

# Audit columns added at bronze (reference P1/P2,
# mm_source_to_bronze.py:148-153) — constants except updated_by/on
# which the ingest call provides.
AUDIT_REGION = "NAM"
AUDIT_COUNTRY = "USA"


def assert_no_conflicting_renames() -> None:
    """Guard for the reference's flattened-map hazard: overlapping raw
    names across tables must map identically or stay per-table. We keep
    maps per-table, so only verify each map is injective."""
    for spec in TABLES.values():
        vals = list(spec.rename.values())
        dupes = {v for v in vals if vals.count(v) > 1}
        if dupes:
            raise ValueError(f"{spec.name}: conflicting rename targets {dupes}")

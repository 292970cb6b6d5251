"""IDMS (identity management) discovery + smart-scan prioritization.

Parity with the reference's pkg/idmsdiscovery:

* The identity-service catalog per provider and the result envelope
  mirror `idms_discovery.go:164-370` (AWS/GCP/Azure/K8s service lists,
  scope/region overrides, ByProvider counts).
* The service priority boost mirrors `service_detector.go:167-214`
  (core-service priority table, security-keyword fallback).

Spark-first shape: the boost is a pure Column expression, so it runs
map-side over however many services an estate reports; the static IDMS
catalog itself is tiny and driver-built like every other service
registry here.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: (provider, name, service_type, description, region, scope) —
#: idms_discovery.go:168-370 verbatim, including the regional overrides.
IDMS_SERVICES: list[tuple[str, str, str, str, str, str]] = [
    # AWS (:168-178; directory-service regional override :196-199)
    ("aws", "iam", "Identity and Access Management",
     "AWS IAM service for users, roles, and policies", "global", "global"),
    ("aws", "sts", "Security Token Service",
     "AWS STS for temporary credentials and federation", "global", "global"),
    ("aws", "cognito-idp", "Cognito Identity Provider",
     "AWS Cognito user pools for authentication", "global", "global"),
    ("aws", "cognito-identity", "Cognito Identity",
     "AWS Cognito federated identities", "global", "global"),
    ("aws", "sso", "Single Sign-On",
     "AWS SSO service for centralized access", "global", "global"),
    ("aws", "organizations", "Organizations",
     "AWS Organizations for account management", "global", "global"),
    ("aws", "directory-service", "Directory Service",
     "AWS Managed Microsoft AD", "us-east-1", "regional"),
    ("aws", "secretsmanager", "Secrets Manager",
     "AWS Secrets Manager for credential storage", "global", "global"),
    ("aws", "kms", "Key Management Service",
     "AWS KMS for encryption key management", "global", "global"),
    # GCP (:214-224; clouddirectory/certificateauthority regional :245-248)
    ("gcp", "iam", "Identity and Access Management",
     "GCP IAM for users, service accounts, and policies", "global", "global"),
    ("gcp", "cloudidentity", "Cloud Identity",
     "GCP Cloud Identity for user and group management", "global", "global"),
    ("gcp", "iap", "Identity-Aware Proxy",
     "GCP IAP for zero-trust access control", "global", "global"),
    ("gcp", "secretmanager", "Secret Manager",
     "GCP Secret Manager for sensitive data storage", "global", "global"),
    ("gcp", "kms", "Key Management Service",
     "GCP KMS for encryption key management", "global", "global"),
    ("gcp", "clouddirectory", "Cloud Directory",
     "GCP managed directory service", "us-central1", "regional"),
    ("gcp", "binaryauthorization", "Binary Authorization",
     "GCP Binary Authorization for container image security", "global",
     "global"),
    ("gcp", "certificateauthority", "Certificate Authority",
     "GCP Certificate Authority Service", "us-central1", "regional"),
    ("gcp", "recaptcha", "reCAPTCHA Enterprise",
     "GCP reCAPTCHA for bot protection", "global", "global"),
    # Azure (:266-283; keyvault/domainsservices regional :301-304)
    ("azure", "activedirectory", "Azure Active Directory",
     "Azure AD for identity and access management", "global", "global"),
    ("azure", "keyvault", "Key Vault",
     "Azure Key Vault for secrets and key management", "eastus", "regional"),
    ("azure", "managedidentity", "Managed Identity",
     "Azure Managed Identity for service authentication", "global", "global"),
    ("azure", "rbac", "Role-Based Access Control",
     "Azure RBAC for resource access control", "global", "global"),
    ("azure", "privilegedidentity", "Privileged Identity Management",
     "Azure PIM for privileged access management", "global", "global"),
    ("azure", "conditionalaccess", "Conditional Access",
     "Azure Conditional Access policies", "global", "global"),
    ("azure", "identityprotection", "Identity Protection",
     "Azure Identity Protection for risk detection", "global", "global"),
    ("azure", "b2c", "Azure AD B2C",
     "Azure AD B2C for customer identity management", "global", "global"),
    ("azure", "b2b", "Azure AD B2B",
     "Azure AD B2B for external user collaboration", "global", "global"),
    ("azure", "domainsservices", "Domain Services",
     "Azure AD Domain Services", "eastus", "regional"),
    ("azure", "applicationproxy", "Application Proxy",
     "Azure AD Application Proxy", "global", "global"),
    # Kubernetes (:320-332; namespace-scoped overrides :359-363)
    ("kubernetes", "rbac", "Role-Based Access Control",
     "Kubernetes RBAC for authorization", "cluster-wide", "cluster"),
    ("kubernetes", "serviceaccounts", "Service Accounts",
     "Kubernetes Service Accounts for pod authentication", "cluster-wide",
     "cluster"),
    ("kubernetes", "clusterroles", "Cluster Roles",
     "Kubernetes cluster-wide roles", "cluster-wide", "cluster"),
    ("kubernetes", "roles", "Roles",
     "Kubernetes namespace-scoped roles", "namespace-scoped", "namespace"),
    ("kubernetes", "rolebindings", "Role Bindings",
     "Kubernetes role bindings", "namespace-scoped", "namespace"),
    ("kubernetes", "clusterrolebindings", "Cluster Role Bindings",
     "Kubernetes cluster role bindings", "cluster-wide", "cluster"),
    ("kubernetes", "secrets", "Secrets",
     "Kubernetes secrets for sensitive data", "namespace-scoped", "namespace"),
    ("kubernetes", "configmaps", "Config Maps",
     "Kubernetes configuration data", "namespace-scoped", "namespace"),
    ("kubernetes", "networkpolicies", "Network Policies",
     "Kubernetes network access control", "cluster-wide", "cluster"),
    ("kubernetes", "podsecuritypolicies", "Pod Security Policies",
     "Kubernetes pod security policies", "cluster-wide", "cluster"),
    ("kubernetes", "admission-controllers", "Admission Controllers",
     "Kubernetes admission control", "cluster-wide", "cluster"),
]

IDMS_SCHEMA = ("provider string, name string, service_type string, "
               "description string, region string, scope string")


def idms_catalog(spark: SparkSession) -> DataFrame:
    """The identity-service catalog as a DataFrame."""
    return spark.createDataFrame(IDMS_SERVICES, IDMS_SCHEMA)


def discover_idms_services(spark: SparkSession,
                           providers: list[str] | None = None) -> dict:
    """IDMSDiscoveryResult envelope (idms_discovery.go:55-155):
    services + total_found + by_provider + errors + discovered_at."""
    start = time.time()
    df = idms_catalog(spark)
    if providers:
        df = df.filter(F.col("provider").isin(list(providers)))
    rows = [r.asDict() for r in df.collect()]
    by_provider: dict[str, int] = {}
    for r in rows:
        r["status"] = "discovered"
        by_provider[r["provider"]] = by_provider.get(r["provider"], 0) + 1
    return {
        "services": rows,
        "total_found": len(rows),
        "by_provider": by_provider,
        "errors": [],
        "duration_ms": int((time.time() - start) * 1000),
        "discovered_at": int(start),
    }


# ---------------------------------------------------------------------------
# Smart-scan service boost (service_detector.go)
# ---------------------------------------------------------------------------

#: service_detector.go:167-214 — core-service boosts. Ordered longest
#: key first so substring matches are deterministic (the reference
#: iterates a Go map; overlapping keys there carry equal boosts, so the
#: longest-first order reproduces its observable behavior).
SERVICE_BOOSTS = sorted(
    {
        "ec2": 0.3, "s3": 0.3, "rds": 0.25, "lambda": 0.25, "iam": 0.3,
        "vpc": 0.25, "cloudformation": 0.2, "cloudwatch": 0.2, "elb": 0.2,
        "elbv2": 0.2, "route53": 0.2,
        "virtualmachines": 0.3, "azurestorage": 0.3, "sqldatabase": 0.25,
        "functionapp": 0.25, "keyvault": 0.25, "virtualnetwork": 0.25,
        "resourcegroup": 0.2, "monitor": 0.2, "loadbalancer": 0.2,
        "compute": 0.3, "gcpstorage": 0.3, "sql": 0.25, "functions": 0.25,
        "gcpiam": 0.3, "networking": 0.25, "deployment": 0.2,
        "monitoring": 0.2, "loadbalancing": 0.2,
        "pods": 0.3, "services": 0.3, "deployments": 0.25,
        "configmaps": 0.2, "secrets": 0.25, "ingress": 0.2,
        "persistentvolumes": 0.2,
    }.items(),
    key=lambda kv: (-len(kv[0]), kv[0]),
)

SECURITY_KEYWORDS = ("security", "compliance", "audit", "guard", "shield",
                     "waf", "firewall")


def service_priority_boost(name_col: Column) -> Column:
    """getServicePriorityBoost as one when-chain (substring contains,
    longest key first, security keywords at 0.15, else 0)."""
    low = F.lower(name_col)
    expr = None
    for key, boost in SERVICE_BOOSTS:
        cond = low.contains(key)
        expr = F.when(cond, F.lit(boost)) if expr is None else expr.when(
            cond, F.lit(boost))
    sec = None
    for kw in SECURITY_KEYWORDS:
        c = low.contains(kw)
        sec = c if sec is None else (sec | c)
    return expr.when(sec, F.lit(0.15)).otherwise(F.lit(0.0))

"""Config-driven analysis job registry.

Parity: the reference ships analysis jobs as packaged JSON Cypher
(GraphJob.from_json_file, graph/job.py:169-180) and runs them all at sync
end (intel/analysis.py:12-43).  Here a job is a named callable over the
GraphStore; the registry preserves the reference's contract that analysis
runs *last* and is orderable/configurable without touching engine code.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession

from cartography_spark.core.store import GraphStore


@dataclass(frozen=True)
class AnalysisJob:
    """A named pass over the graph: ``run(store, update_tag)`` reads only
    the store, never the extraction inputs."""

    name: str
    run: Callable[[GraphStore, int], None]


def default_jobs() -> list[AnalysisJob]:
    """Mirrors the reference's packaged job set
    (data/jobs/analysis/*.json, run by intel/analysis.py)."""
    from cartography_spark.analysis.exposure import mark_exposure
    from cartography_spark.analysis.jobs import (
        ec2_iam_instanceprofiles,
        eks_exposure,
        gcp_aws_dns_links,
        gcp_inet_exposure,
        gke_basic_auth,
        gke_exposure,
        k8s_lb_exposure,
        keypair_analysis,
        link_container_images,
        link_humans,
        link_lambda_ecr_images,
        mark_foreign_accounts,
        mark_s3_anonymous,
        rds_exposure,
    )

    # One entry per reference JSON; aws_ec2_iaminstance.json is a duplicate
    # of aws_ec2_iaminstanceprofile.json (identical statements) so it shares
    # the ec2_iam_instanceprofiles implementation.
    return [
        AnalysisJob("aws_asset_exposure", mark_exposure),
        AnalysisJob("aws_eks_exposure", eks_exposure),
        AnalysisJob("aws_foreign_accounts", mark_foreign_accounts),
        AnalysisJob("aws_s3acl", mark_s3_anonymous),
        AnalysisJob("aws_ec2_iaminstanceprofile", ec2_iam_instanceprofiles),
        AnalysisJob("aws_ec2_keypair", keypair_analysis),
        AnalysisJob("aws_lambda_ecr", link_lambda_ecr_images),
        AnalysisJob("gcp_inet_exposure", gcp_inet_exposure),
        AnalysisJob("gcp_gke_exposure", gke_exposure),
        AnalysisJob("gcp_gke_basic_auth", gke_basic_auth),
        AnalysisJob("human_link", link_humans),
        # engine-original exposure analogs for providers the reference has
        # no packaged JSON for (same mark discipline)
        AnalysisJob("k8s_lb_exposure", k8s_lb_exposure),
        AnalysisJob("aws_rds_exposure", rds_exposure),
        AnalysisJob("container_images", link_container_images),
        AnalysisJob("gcp_aws_dns", gcp_aws_dns_links),
    ]


def run_analysis_jobs(
    store: GraphStore,
    spark: SparkSession,
    sf_dir: str,
    update_tag: int,
    jobs: list[AnalysisJob] | None = None,
) -> list[str]:
    """Run registered analysis passes in order; each is stage-checkpointed
    so a resumed sync skips completed jobs.  The session and input-directory
    arguments are accepted for existing positional callers and unused:
    analysis is a function of the graph alone."""
    ran = []
    for job in jobs if jobs is not None else default_jobs():
        stage = f"analysis:{job.name}"
        if store.stage_done(stage, update_tag):
            continue
        job.run(store, update_tag)
        ran.append(job.name)
    return ran

package graft.semantic

import graft.semantic.model.Registry

/** Cube-revision A/B bucketing — the analogue of the reference's
  * bucketing module (core/.../bucketing/BucketingConfig.scala:19-62
  * CubeBucketingConfig with internal/external percentage maps, user
  * whitelist, dry-run percentages; BucketSelector.scala:36-118
  * selection order force > whitelist > distribution > default).
  *
  * One deliberate deviation: the reference samples a random
  * distribution PER REQUEST (EnumeratedIntegerDistribution.sample);
  * here a user's bucket is a deterministic hash of their userId over
  * [0,100), so assignment is sticky per user at the same percentages —
  * no revision flapping between a user's consecutive requests, and
  * reproducible tests. Rollout still converges to the configured
  * percentages over the user population.
  */
object Bucketing {

  final case class UserInfo(userId: String, isInternal: Boolean)
  object UserInfo { val empty: UserInfo = UserInfo("", isInternal = false) }

  /** Per-request routing overrides (BucketParams analogue). */
  final case class BucketParams(
      user: UserInfo = UserInfo.empty,
      dryRunRevision: Option[Int] = None,
      forceRevision: Option[Int] = None)

  /** Per-cube rollout config. Percentages are revision → percent and
    * each non-empty map must sum to 100 (reference validate(),
    * BucketingConfig.scala:54-61). `dryRunPercentage` routes a COPY of
    * that percentage of requests to a candidate revision for
    * shadow-testing; `userWhiteList` pins named users. */
  final case class CubeBucketingConfig(
      internalBucketPercentage: Map[Int, Int] = Map.empty,
      externalBucketPercentage: Map[Int, Int] = Map.empty,
      dryRunPercentage: Map[Int, Int] = Map.empty,
      userWhiteList: Map[String, Int] = Map.empty) {
    private def check(what: String, m: Map[Int, Int]): Unit =
      require(m.isEmpty || m.values.sum == 100,
        s"total $what bucket percentage is not 100% but ${m.values.sum}")
    check("internal", internalBucketPercentage)
    check("external", externalBucketPercentage)
    // dry-run percentages are independent per-revision sampling rates,
    // not a distribution — each must simply be a valid percentage
    dryRunPercentage.foreach { case (rev, pct) =>
      require(pct >= 0 && pct <= 100,
        s"dry-run percentage for revision $rev must be in 0..100, got $pct")
    }
  }

  final case class BucketingConfig(cubeConfigs: Map[String, CubeBucketingConfig] = Map.empty)

  /** Outcome (CubeBucketSelected analogue): the revision to serve, and
    * an optional revision to shadow-run. */
  final case class CubeBucketSelected(revision: Int, dryRunRevision: Option[Int])

  /** Deterministic user bucket in [0,100): stable hash of (salt, userId). */
  private def bucketOf(userId: String, salt: String): Int = {
    val h = scala.util.hashing.MurmurHash3.stringHash(salt + "\u0000" + userId)
    math.floorMod(h, 100)
  }

  /** Walk cumulative percentages (revisions in ascending order) to map
    * a bucket in [0,100) to a revision. */
  private def pickFrom(pcts: Map[Int, Int], bucket: Int): Option[Int] = {
    var acc = 0
    pcts.toSeq.sortBy(_._1).collectFirst {
      case (rev, pct) if { acc += pct; bucket < acc } => rev
    }
  }

  final class BucketSelector(registry: Registry, config: BucketingConfig) {

    /** Selection order per the reference: forceRevision > whitelist >
      * percentage bucket (internal vs external population) > the
      * registry's default revision. The chosen revision must exist in
      * the registry. */
    def select(cube: String, params: BucketParams): Either[String, CubeBucketSelected] =
      registry.cube(cube).flatMap { default =>
        val cfg = config.cubeConfigs.get(cube)
        val revision = params.forceRevision
          .orElse(cfg.flatMap(_.userWhiteList.get(params.user.userId)))
          .orElse(cfg.flatMap { c =>
            val pcts = if (params.user.isInternal) c.internalBucketPercentage
                       else c.externalBucketPercentage
            pickFrom(pcts, bucketOf(params.user.userId, s"cube:$cube"))
          })
          .getOrElse(default.revision)
        // an EXPLICITLY requested dry-run revision must exist — silently
        // dropping it would shadow-test nothing while looking configured
        val explicitBad = params.dryRunRevision
          .filterNot(r => registry.byRevision.contains((cube, r)))
        if (explicitBad.isDefined)
          Left(s"dry-run revision ${explicitBad.get} does not exist for cube '$cube'")
        else {
          val dryRun = params.dryRunRevision.orElse(cfg.flatMap { c =>
            // independent hash salt: the dry-run population is not the
            // same slice of users as a same-percentage rollout bucket
            c.dryRunPercentage.toSeq.sortBy(_._1).collectFirst {
              case (rev, pct)
                  if bucketOf(params.user.userId, s"dryrun:$cube:$rev") < pct => rev
            }
          }).filter(_ != revision)
          registry.cube(cube, Some(revision)).map { _ =>
            CubeBucketSelected(revision,
              dryRun.filter(r => registry.byRevision.contains((cube, r))))
          }
        }
      }
  }
}

"""Model validation: implied timescales and the Chapman-Kolmogorov test.

Reference: ``implied_timescales``/``ImpliedTimescales``
(/root/reference/src/deeptime/util/validation.py:8-195), ``ck_test``/
``ChapmanKolmogorovTest`` (validation.py:196-366), ``MembershipsObservable``
(markov/_observables.py:9-88).

These are the meta-entry points that multiply queries (SURVEY.md §3.3):
every lagtime is counted in one Spark pass keyed by (lag, s_from, s_to)
(``transition_counting.count_models``), and all comparison math is
driver-side on the small models.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame


class ImpliedTimescales:
    """Lagtimes x process-timescales table (reference validation.py:55-195)."""

    def __init__(self, lagtimes, its, its_stats=None):
        ix = np.argsort(np.asarray(lagtimes))
        self._lagtimes = np.asarray(lagtimes, dtype=int)[ix]
        max_p = max(len(x) for x in its)
        self._its = np.full((len(its), max_p), np.nan)
        for i, processes in enumerate(its):
            self._its[i, : len(processes)] = processes
        self._its = self._its[ix]
        self._its_stats = None
        if its_stats is not None and any(s is not None for s in its_stats):
            max_s = max(len(s) for s in its_stats if s is not None)
            arr = np.full((len(its), max_p, max_s), np.nan)
            for i, samples in enumerate(its_stats):
                if samples is None:
                    continue
                for k, s in enumerate(samples):
                    s = np.asarray(s)
                    arr[i, : min(len(s), max_p), k] = s[:max_p]
            self._its_stats = arr[ix]

    @property
    def lagtimes(self) -> np.ndarray:
        return self._lagtimes

    @property
    def n_lagtimes(self) -> int:
        return len(self._lagtimes)

    @property
    def max_n_processes(self) -> int:
        return self._its.shape[1]

    @property
    def has_samples(self) -> bool:
        return self._its_stats is not None

    def timescales_for_process(self, process_index: int) -> np.ndarray:
        """(n_lagtimes,) timescales of one process (reference :150-170)."""
        if process_index >= self.max_n_processes:
            raise ValueError(f"process {process_index} out of bounds ({self.max_n_processes})")
        return self._its[:, process_index]

    def samples_for_process(self, process_index: int) -> np.ndarray:
        if not self.has_samples:
            raise ValueError("no samples available")
        return self._its_stats[:, process_index, :]


def implied_timescales(models, n_its: Optional[int] = None) -> ImpliedTimescales:
    """Convert fitted models (each with .timescales() and .lagtime) to an
    ImpliedTimescales table (reference validation.py:8-53)."""
    if not isinstance(models, (list, tuple)):
        models = [models]
    if len(models) == 0:
        raise ValueError("data cannot be empty")
    lagtimes, its, its_stats = [], [], []
    for model in models:
        lagtimes.append(model.lagtime)
        if hasattr(model, "samples") and hasattr(model, "prior"):  # Bayesian posterior
            its.append(model.prior.timescales(k=n_its))
            its_stats.append([s.timescales(k=n_its) for s in model.samples])
        else:
            its.append(model.timescales(k=n_its))
            its_stats.append(None)
    return ImpliedTimescales(lagtimes, its, its_stats)


def fit_msms_at_lags(df: DataFrame, lagtimes: Sequence[int], state_col: str = "state") -> list:
    """One reversible MLE MSM per lagtime — the models behind ITS/CK curves.
    All lags are counted in ONE Spark pass (``count_models``); only the
    per-lag MLE runs on the driver. Raises ValueError naming the lag when a
    lag has no transition counts."""
    from deeptime_spark.markov.msm import MaximumLikelihoodMSM
    from deeptime_spark.markov.transition_counting import count_models

    return [
        MaximumLikelihoodMSM(reversible=True).fit_from_counts(c).fetch_model()
        for c in count_models(df, lagtimes, state_col=state_col)
    ]


def implied_timescales_from_dtrajs(
    df: DataFrame, lagtimes: Sequence[int], n_its: Optional[int] = None, state_col: str = "state"
) -> ImpliedTimescales:
    """ITS curve straight from a dtraj DataFrame: one counting pass over
    all lags -> driver spectral math."""
    return implied_timescales(fit_msms_at_lags(df, lagtimes, state_col=state_col), n_its=n_its)


class MembershipsObservable:
    """Propagate metastable-membership distributions (reference
    markov/_observables.py:9-88): observable(model, mlag) is the n_sets x
    n_sets matrix of set-to-set transition probabilities after mlag steps."""

    def __init__(self, test_model, memberships, initial_distribution: str | np.ndarray = "stationary_distribution"):
        from deeptime_spark.markov.pcca import PCCAModel

        self.memberships = memberships.memberships if isinstance(memberships, PCCAModel) else np.asarray(memberships)
        self.n_states, self.n_sets = self.memberships.shape
        msm = self._to_markov_model(test_model)
        symbols = msm.count_model.state_symbols if msm.count_model is not None else np.arange(msm.n_states)
        if isinstance(initial_distribution, str):
            init_dist = msm.stationary_distribution
        else:
            init_dist = np.asarray(initial_distribution)
        P0 = self.memberships * init_dist[:, None]
        P0 /= P0.sum(axis=0)
        self.P0 = P0
        self._full2active = np.zeros(int(np.max(symbols)) + 1, dtype=int)
        self._full2active[symbols] = np.arange(len(symbols))

    @staticmethod
    def _to_markov_model(model):
        if hasattr(model, "prior"):
            model = model.prior
        if hasattr(model, "transition_model"):
            model = model.transition_model
        return model

    def __call__(self, model, mlag=1) -> np.ndarray:
        if mlag == 0 or model is None:
            return np.eye(self.n_sets)
        if abs(mlag - round(mlag)) > 1e-9:
            raise ValueError("ck_test lagtimes must be integer multiples of the test model lagtime")
        mlag = int(round(mlag))
        msm = self._to_markov_model(model)
        symbols = msm.count_model.state_symbols if msm.count_model is not None else np.arange(msm.n_states)
        subset = self._full2active[symbols]
        out = np.zeros((self.n_sets, self.n_sets))
        for i in range(self.n_sets):
            p0 = self.P0[:, i]
            p0sub = p0[subset]
            p0sub = p0sub / np.sum(p0)
            pk = msm.propagate(p0sub, mlag)
            for j in range(self.n_sets):
                out[i, j] = float(np.dot(pk, self.memberships[subset, j]))
        return out


class ChapmanKolmogorovTest:
    """CK-test results (reference validation.py:284-366)."""

    def __init__(self, lagtimes, predictions, estimates, observable):
        self.lagtimes = np.asarray(lagtimes)
        self.predictions = np.asarray(predictions)
        self.estimates = np.asarray(estimates)
        self.observable = observable

    @property
    def n_components(self) -> int:
        return len(self.estimates[0]) if len(self.estimates) else 0


def ck_test(models, observable=None, n_metastable_sets: Optional[int] = None,
            test_model=None, include_lag0: bool = True) -> ChapmanKolmogorovTest:
    """Chapman-Kolmogorov test (reference validation.py:196-283):
    T_test(k tau) rho vs T_model(k tau-estimated) rho for each model's
    lagtime. ``observable`` defaults to a MembershipsObservable built from
    a PCCA+ coarse-graining of the test model into ``n_metastable_sets``.
    """
    models = sorted(models, key=lambda m: m.lagtime)
    if test_model is None:
        test_model = models[0]
    if observable is None:
        if n_metastable_sets is None:
            raise ValueError("provide either an observable or n_metastable_sets")
        msm = MembershipsObservable._to_markov_model(test_model)
        observable = MembershipsObservable(test_model, msm.pcca(n_metastable_sets))
    lagtimes = ([0] if include_lag0 else []) + [m.lagtime for m in models]
    ref_tau = test_model.lagtime
    predictions = [observable(test_model, mlag=lag / ref_tau) for lag in lagtimes]
    est_models = ([None] if include_lag0 else []) + list(models)
    estimates = [observable(m, mlag=1) for m in est_models]
    return ChapmanKolmogorovTest(lagtimes, predictions, estimates, observable)
